package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact: one hash-aggregate shuffle on the fingerprint;
  *  - MinHash+LSH: signatures are a projection (no shuffle); the only
  *    shuffle is the band-bucket self-join on (band, bucketHash) — the
  *    classic shingle→minhash→band→bucket-join plan, with candidate
  *    verification as a second exact-Jaccard filter;
  *  - SimHash: a projection to a 96-bit signature (two 48-bit
  *    md5-domain words, replayable in DuckDB), a band-bucket join on
  *    `maxHamming + 1` signature chunks (pigeonhole-complete for the
  *    promised radius), and a Hamming-distance verify;
  *  - embedding near-dup: random-hyperplane LSH buckets, cosine verify.
  *
  * All candidate generation is bucket-equi-join — never an O(n²)
  * cross join — so the plans survive a 1000× scale-up (bucket width
  * controls the candidate volume).
  *
  * ==Caching contract==
  * ONE rule across the module (and [[Similarity]]): an operator may
  * `cache()` a slim projection ONLY when the returned plan references
  * it more than once AND no exchange-level reuse can deliver the same
  * (hydration joins on a different key than the candidate join —
  * `minHashDupPairs`' shingles, `dedupIncrementalIndexed`'s batch
  * projection, `sparseCosineTopK`'s vector aggregate). Such
  * caches go through [[Hydration.persist]]: inside a
  * [[Hydration.scoped]] block (every eager operator here runs in one)
  * they are released when the block exits; called from plain caller
  * code they stay registered until the session's LRU evicts them or
  * the caller/harness runs `spark.catalog.clearCache()` — Bench and
  * Verify do so after every query. Their storage LEVEL is Spark's
  * session-wide `spark.sql.defaultCacheStorageLevel` (MEMORY_AND_DISK
  * default; NONE = recompute per reference — at 100 TB a shingle
  * projection is petabyte-class and LRU thrash beats recompute; see
  * [[Hydration]] for the policy discussion and
  * [[buildCorpusIndex]]/[[dedupIncrementalIndexed]] for persisting
  * the corpus index as a real table). Self-joins on the SAME projection
  * (the SimHash band joins) must NOT cache: both sides shuffle one
  * canonical child, so AQE's exchange reuse computes it once and the
  * call pins nothing (gated by the repeated-calls DedupSpec case —
  * round 6's cache here leaked a pinned frame per call).
  */
object Dedup {

  /** Exact dedup by canonical fingerprint: keeps the lexicographically
    * first doc per group (deterministic representative). */
  def exactByFingerprint(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.withColumn("__fp", fingerprint(col(textCol)))
    keyed.groupBy(col("__fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
  }

  /** MinHash signature Column — the native single-pass kernel
    * ([[graft.functions.MinHashSig]]): one tight loop per row, 3 full
    * hashes per shingle + k rotate-XOR lane mixes. A pure projection;
    * the earlier explode→groupBy→k-min-aggregate shape (correct, but
    * pays an exploded-row shuffle) is superseded. */
  def minHashSignature(shingleCol: Column, k: Int): Column = {
    require(k <= 128, "lane mixing provides 128 independent permutations")
    graft.functions.SignatureExpressions.minHashSig(shingleCol, k)
  }

  /** Threshold-derived banding, two-step: (1) the LARGEST row width r
    * (fewest false-positive candidates — candidate rate for unrelated
    * pairs falls as j_bg^r) whose MINIMAL band count still fits the
    * kernel budget; (2) that minimal band count, `ceil(ln(1-floor) /
    * ln(1-t^r))`, so banding recall `1-(1-t^r)^bands` at j = threshold
    * clears `recallFloor` without overshooting into 2× the fan-out
    * cost (filling all kMax hashes at t=0.3 would give 64 bands and
    * recall .998 for double the candidate volume of the 42 bands that
    * already deliver .98).
    *
    * Fixed (k=128, bands=32) banding silently lost ~13% of true pairs
    * at j = 0.5 and ~77% at j = 0.3 — deriving from the threshold
    * makes the recall floor a stated contract instead of an accident
    * of the corpus. Returns (k, bands) with k = bands·r ≤ kMax (the
    * kernel's 128-lane independence cap). Derived points: t=0.8 →
    * (119, 17) r=7; t=0.5 → (90, 30) r=3; t=0.3 → (84, 42) r=2 — all
    * recall ≥ .98 at j = t, and ≈ 1 for the j ≥ 0.9 pairs real dup
    * corpora mostly hold. Empirical gates: tools/crosscheck_lsh.py +
    * the planted-borderline-pair DedupSpec case. */
  def lshParams(threshold: Double, kMax: Int = 128,
      recallFloor: Double = 0.98): (Int, Int) = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    // Double throughout: at r near kMax the minimal band count is
    // astronomically large (t^r ≈ 0) and would overflow any Int
    def minBands(r: Int): Double = {
      val pBand = math.pow(threshold, r)
      if (pBand >= 1.0) 1.0
      else math.max(1.0, math.ceil(
        math.log1p(-recallFloor) / math.log1p(-pBand)))
    }
    val r = (kMax to 1 by -1).find(r => minBands(r) * r <= kMax).getOrElse {
      // even 1-hash bands cannot reach the recall floor inside the
      // kernel budget (t below ~0.03 at kMax=128): fail FAST with the
      // actual dial values — silently returning an over-budget k made
      // the kernel's own require fire two operators downstream, and
      // clamping would silently ship less recall than promised
      throw new IllegalArgumentException(
        s"lshParams: threshold=$threshold needs ${minBands(1).toLong} bands " +
          s"of 1 hash to reach recall $recallFloor — beyond the $kMax-lane " +
          "kernel budget; raise the threshold, lower recallFloor, or raise kMax")
    }
    val bands = minBands(r).toInt
    (bands * r, bands)
  }

  /** k/bands ≤ 0 (the threshold-taking operators' default) → derive
    * both from the threshold via [[lshParams]]. */
  private def resolveLsh(threshold: Double, k: Int, bands: Int): (Int, Int) =
    if (k > 0 && bands > 0) (k, bands) else lshParams(threshold)

  /** Slim (id, band, bucket) fan-out of `df`'s k-long MinHash
    * signature `sig`, split into `bands` bands of k/bands rows: band
    * hashes as `bands` STATIC expressions (driver-side unroll) —
    * higher-order functions evaluate interpreted, measured 4-20× slower
    * on this path. Shingle arrays must NOT ride through the fan-out
    * (bands× data blowup through the shuffle); hydrate them per
    * candidate. */
  private def bandedOf(df: DataFrame, sig: Column, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(concat_ws("_",
        lit(b), concat_ws(",", slice(col("sig"), b * r + 1, r))))
    }: _*)
    df.select(col("id"), sig.as("sig")).select(col("id"), posexplode(bandHashes))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** (id, sh) — each doc's distinct word shingles, docs without any
    * dropped: the front every shingle-based operator here shares. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Distinct candidate pairs of a banded frame `(id, keys…,
    * payload…)`, one row per pair: `keys ++ (id_a, payload_a…, id_b,
    * payload_b…)`. The band self-join is hot-bucket bounded with a star
    * fallback ([[HotBuckets.starSelfJoinCandidates]]): a bucket with
    * B > cap members yields B-1 candidates vs the bucket-min instead of
    * B² — bounded work, and a mega-cluster of true duplicates still
    * collapses downstream (a plain drop-guard would silently keep every
    * copy of it). The one candidate tail of the MinHash, incremental
    * and SimHash pair paths; each caller verifies its candidates. */
  private def bandPairs(banded: DataFrame, keys: Seq[String], payload: Seq[String],
      maxBucket: Int, what: String, strict: Boolean): DataFrame =
    HotBuckets.starSelfJoinCandidates(banded, keys, "id", payload, maxBucket,
      what, strict).dropDuplicates("id_a", "id_b")

  /** MinHash LSH pairs of a pinned shingle projection `proj` (id, sh),
    * verified with exact Jaccard ≥ `threshold`: `sig`, a k-long MinHash
    * signature over `proj`'s columns, splits into `bands` bands of
    * k/bands rows each, and a candidate shares ≥1 full band. The
    * caller resolves (k, bands) ([[resolveLsh]]) and signs with the
    * same k. Verification hydrates HASHED gram arrays from `proj`
    * ([[hashedGramJaccard]]) — the heavy arrays never touch a pair
    * row. Output: (id_a, id_b, jaccard). */
  private def minHashPairs(proj: DataFrame, sig: Column, threshold: Double,
      k: Int, bands: Int, maxBucket: Int, what: String,
      strict: Boolean): DataFrame =
    hashedGramJaccard(bandPairs(bandedOf(proj, sig, k, bands), Seq("band", "bucket"), Nil,
      maxBucket, what, strict), "id_a", "id_b", proj, proj, threshold)

  /** (id, comp): the near-dup cluster minimum of each doc in `proj` —
    * the pinned shingle projection of EXACT-KEPT docs — through
    * [[minHashPairs]] and [[connectedComponents]]. A doc in no verified
    * pair is its own cluster and has no row. The one cluster core of
    * [[dedupCorpus]], [[leakageSafeSplit]] and the within-batch pass of
    * [[dedupIncrementalIndexed]]. */
  private def clusterMins(proj: DataFrame, sig: Column, threshold: Double,
      k: Int, bands: Int, maxBucket: Int, what: String,
      strict: Boolean): DataFrame =
    connectedComponents(minHashPairs(proj, sig, threshold, k, bands,
      maxBucket, what, strict))

  /** The rows of `docs` whose id is the min of their exact group:
    * `keyed` is `docs` with its `__fp` fingerprint column. */
  private def exactKept(keyed: DataFrame, docs: DataFrame, idCol: String): DataFrame =
    docs.join(keyed.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
      .select(idCol), Seq(idCol), "left_semi")

  /** Exact Jaccard for an already-generated candidate pair set from
    * slim HASHED gram arrays — keeps the 128×-octave heap fix (r18
    * verdict #1: never hydrate gram STRINGS onto pair rows) without
    * the r19 co-count join stack's exchange bill (the inverted-index
    * form was O(1) per pair row but paid SIX exchanges — two explode
    * joins, a re-aggregate, and two UNPRUNED corpus-scale size joins
    * — measured ~1 s of pure stage overhead per dedup call at suite
    * scale, on every dedup/pipeline query; r20 optimization):
    *
    *  - each side is pruned to docs that actually appear in `pairs`
    *    (left-semi — the same pruning both prior shapes did) and
    *    projected to `transform(sh, xxhash64)` in-row; gram strings
    *    never cross an exchange;
    *  - each pair row carries two array<long> — 8 bytes per gram, vs
    *    ~30-80 bytes per gram string + object headers in the pre-r19
    *    hydration (the resident set that forced 2× heap per 2× data);
    *  - jaccard = the fused set kernel
    *    [[graft.functions.SignatureExpressions.jaccardSimLong]]
    *    (distinct both sides, |A∩B| / (|A|+|B|−|A∩B|), one int/int
    *    division last — [[graft.functions.SignatureKernels.jaccard]]
    *    semantics in the hash domain, zero intermediate arrays).
    *
    * TWO hydration joins total, no re-aggregate, nothing corpus-scale
    * beyond the pruned sides. Grams cross the join as 8-byte hashes,
    * never strings — the [[decontaminate]] collision contract (a
    * 64-bit in-doc collision can only nudge one pair's set sizes by
    * one, probability ≈ grams²/2⁶⁴ per doc); pair sets verified
    * identical to both prior shapes (tools/crosscheck_lsh.py).
    * Output: (aCol, bCol, jaccard), the pairs with jaccard ≥
    * `threshold`. */
  private def hashedGramJaccard(pairs: DataFrame, aCol: String, bCol: String,
      shA: DataFrame, shB: DataFrame, threshold: Double): DataFrame = {
    // semi-probe build sides are DISTINCT ids (≤ docs, 8 bytes each) —
    // without the distinct the probe set is pair-multiplicity-sized
    // and a 128×-amplified corpus (pairs ~ factor²) turns the
    // broadcast build into a driver-heap event
    def hashed(s: DataFrame, idOut: String, out: String) = s
      .join(pairs.select(col(idOut).as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as(idOut),
        transform(col("sh"), g => xxhash64(g)).as(out))
    // merge-hinted: both sides are large at scale (pairs grows ~
    // factor² on amplified corpora; the hydrated side carries the
    // gram-hash arrays), so the planner must take the spillable
    // sort-merge path — an estimate-driven broadcast of either side
    // collides with the shingle cache in the same (local-mode) JVM;
    // measured: 128×/8 GB died building exactly that broadcast. At
    // bench scale both sides are tiny and the forced sort is
    // negligible.
    pairs
      .join(hashed(shA, aCol, "__ha").hint("merge"), Seq(aCol))
      .join(hashed(shB, bCol, "__hb").hint("merge"), Seq(bCol))
      .select(col(aCol), col(bCol),
        graft.functions.SignatureExpressions
          .jaccardSimLong(col("__ha"), col("__hb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard ≥
    * threshold (false positives from banding are filtered here; false
    * NEGATIVES are bounded by [[lshParams]]' recall floor when k/bands
    * are left defaulted). Verification hydrates HASHED gram arrays
    * ([[hashedGramJaccard]]) — pair rows stay slim end to end. */
  def minHashDupPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, k: Int = -1, bands: Int = -1,
      maxBucket: Int = HotBuckets.DefaultCap,
      strict: Boolean = false): DataFrame = {
    val (kk, bb) = resolveLsh(threshold, k, bands)
    // hydration persist: the shingle projection feeds the signature
    // pass AND both verify-side lookups — 3 recomputes at level NONE
    // (released by the caller's scope, else LRU-evicted after the
    // query; a few GB per million docs at the default level — size or
    // disable via `spark.sql.defaultCacheStorageLevel`, see [[Hydration]])
    minHashPairs(Hydration.persist(shingled(docs, idCol, textCol, shingleSize)),
      minHashSignature(col("sh"), kk), threshold, kk, bb, maxBucket,
      "minhash_lsh", strict)
  }

  /** Contiguous chunk layout whose pigeonhole guarantee COVERS
    * `maxHamming`: `maxHamming + 1` bands, widths as equal as possible
    * (they differ by at most one bit). A pair within `maxHamming`
    * differing bits cannot touch all `maxHamming + 1` chunks, so at
    * least one chunk is identical and the bucket join finds the pair —
    * recall 1.0 for the promised radius BY CONSTRUCTION, not by luck.
    * (The previous fixed 4-band layout only guaranteed hamming ≤ 3;
    * callers asking for 6 silently lost straddling pairs — the same
    * fixed-banding bug [[lshParams]] fixed for MinHash.)
    *
    * Returns (bitOffset, bitWidth) per band. The SAME spec drives the
    * Spark banding AND the generated DuckDB replay SQL, so the oracle
    * can never drift from the implementation. */
  def simHashBandSpec(sigBits: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val bands = maxHamming + 1
    require(maxHamming >= 0 && bands <= sigBits,
      s"maxHamming=$maxHamming needs ${bands} bands but the signature has only $sigBits bits")
    val base = sigBits / bands
    val extra = sigBits % bands
    val widths = Seq.tabulate(bands)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths) // (offset, width) per band
  }

  /** The spec'd bit slice `(off, w)` of a signature held as
    * `wordBits`-bit words (word i = bits [i·wordBits, (i+1)·wordBits)).
    * A chunk that straddles a word boundary recombines from both words;
    * unsigned shifts + the width mask make full-64-bit words safe (and
    * `w == 64` — sigBits 64, maxHamming 0 — no longer overflows the
    * mask to 0: JVM shifts are mod 64, so `(1L << 64) - 1` was 0 and
    * every row landed in chunk 0, degenerating the bucket join to the
    * O(n²) cross join this module forbids). ONE helper for the batch
    * operators and [[graft.streaming.NearDup]] — the layouts cannot
    * drift apart. */
  private[graft] def sigChunkExpr(words: Seq[Column], wordBits: Int,
      off: Int, w: Int): Column = {
    require(w <= 64, s"chunk width $w exceeds a long")
    val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1)
    val i = off / wordBits
    val r = off % wordBits
    val lo = shiftrightunsigned(words(i), r)
    val chunk =
      if (r + w <= wordBits) lo
      else lo.bitwiseOR(shiftleft(words(i + 1), wordBits - r))
    chunk.bitwiseAND(mask)
  }

  /** All [[simHashBandSpec]] chunk columns for a multi-word signature. */
  private[graft] def sigChunkExprs(words: Seq[Column], wordBits: Int,
      sigBits: Int, maxHamming: Int): Seq[Column] =
    simHashBandSpec(sigBits, maxHamming).map { case (off, w) =>
      sigChunkExpr(words, wordBits, off, w)
    }

  /** Signature-level SimHash pairing over a MULTI-WORD signature
    * (columns `wordCols`, each holding `wordBits` bits): band each row
    * into `maxHamming + 1` chunks, bucket-join (hot-bucket guarded),
    * verify total hamming ≤ `maxHamming`. Runs the document path's
    * 2×48-bit portable md5 signature, the multimodal perceptual hash's
    * 2×32-bit words, and PLANTED single-word signatures
    * (`Seq("sig")` — the specs plant straddling pairs and assert they
    * are found).
    *
    * No caching: the band fan-out is referenced once per join side,
    * but both sides shuffle the SAME banded projection on (band,
    * chunk), so Catalyst's ReuseExchange computes the signature
    * kernel once — nothing is pinned in the catalog across calls
    * (the round-6 `.cache()` here leaked a pinned frame per call in
    * long-lived sessions). */
  def simHashPairsFromSigWords(sig: DataFrame, wordCols: Seq[String],
      wordBits: Int, sigBits: Int, maxHamming: Int,
      maxBucket: Int = HotBuckets.DefaultCap,
      extraKeyCols: Seq[String] = Nil): DataFrame = {
    require(wordCols.nonEmpty && sigBits <= wordCols.size * wordBits,
      s"$sigBits bits do not fit ${wordCols.size} ${wordBits}-bit words")
    val words = wordCols.map(col)
    // extraKeyCols join the bucket key: rows only pair within the same
    // extra-key slice — the frame-ordinal constraint of the video
    // near-dup family (frame k of video A pairs only against frame k
    // of video B; cross-ordinal buckets would both waste candidates
    // and match content at different positions)
    val banded = sig.select(
      (col("id") +: extraKeyCols.map(col)) ++ words :+
        posexplode(array(sigChunkExprs(words, wordBits, sigBits, maxHamming): _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    // oversized buckets degrade to star candidates vs the bucket-min
    // row (signature words ride the representative struct), so a
    // mega-cluster of true near-dups still collapses downstream
    val hamming = wordCols
      .map(c => bit_count(col(c + "_a").bitwiseXOR(col(c + "_b"))))
      .reduce(_ + _)
    bandPairs(banded, Seq("band", "chunk") ++ extraKeyCols, wordCols,
        maxBucket, "simhash", strict = false)
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-dup pairs in the portable 96-bit md5 domain: two
    * 48-bit words ([[graft.functions.SignatureKernels.simHash48]]
    * parts 0/1 — DuckDB's `md5_number_upper/lower & (2^48-1)`), banded
    * into `maxHamming + 1` chunks ([[simHashBandSpec]] — recall 1.0 at
    * the promised radius by pigeonhole), bucket-joined, hamming
    * verified — every step replayable in DuckDB, so the driver query
    * (q28) is oracle-gated. 96 bits keep the pigeonhole chunks 13-14
    * bits wide at maxHamming 6 — the round-6 single-word 48-bit layout
    * had 6-7-bit chunks (64-128 buckets per band), a ~56× candidate
    * blowup vs the legacy 12-bit layout and quadratic at 100× scale.
    *
    * '''Dial semantics''': `maxHamming` is an ABSOLUTE radius over the
    * 96 bits, so a wider signature at a fixed dial TIGHTENS the
    * normalized similarity threshold. The default scales with the
    * width — 6/96 ≈ the pre-widening 3/48 normalized threshold, so
    * defaulted callers kept their radius (7 bands of 13-14 bits, ≥ 8k
    * buckets each). Callers tuning their own dial scale it the same
    * way; the price is `maxHamming + 1` bands of narrower chunks
    * ([[simHashBandSpec]] trades bucket cardinality for radius — below
    * ~12-bit chunks the bucket join re-enters the candidate-blowup
    * regime the widening fixed). */
  def simHashDupPairs(docs: DataFrame, maxHamming: Int = 6,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3,
      maxBucket: Int = HotBuckets.DefaultCap): DataFrame =
    simHashPairsFromSigWords(simHashSigs(docs, idCol, textCol, shingleSize),
      Seq("sig0", "sig1"), 48, 96, maxHamming, maxBucket)

  /** (id, sig0, sig1): the portable 96-bit SimHash of each doc's
    * shingles — [[simHashDupPairs]]' signature, and the one
    * [[graft.streaming.NearDup]] signs its stream with. The fused
    * kernel digests each shingle ONCE for both words — two
    * per-part 48-bit kernels would run the md5 loop twice per doc. */
  private[graft] def simHashSigs(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame =
    shingled(docs, idCol, textCol, shingleSize)
      .select(col("id"),
        graft.functions.SignatureExpressions.simHash96Portable(col("sh")).as("s"))
      .select(col("id"), col("s")(0).as("sig0"), col("s")(1).as("sig1"))

  /** Connected components over an undirected pair list (id_a, id_b).
    * Two paths behind one interface:
    *
    *  - ≤ `driverThreshold` edges: a driver union-find — post-verify
    *    near-dup graphs are sparse, and ≤1M edges on the driver beats
    *    10+ distributed jobs by 10-50×;
    *  - above it: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond") — converges in
    *    O(log n) rounds on ANY topology, where the previous min-label
    *    propagation needed O(diameter) rounds (a 63-hop chain cost 63
    *    shuffle rounds; the stars collapse it in a handful). Each star
    *    op is one aggregate + one join on the slim edge list.
    *
    * Output: (id, comp) with comp = the component's min id. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      driverThreshold: Long = 1000000L): DataFrame = Hydration.scoped {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = Hydration.persist(
      pairs.select(col("id_a").cast("long"), col("id_b").cast("long")))
    if (p.count() > driverThreshold) largeSmallStar(p, maxIter)
    else {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val collected = p.as[(Long, Long)].collect()
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val ids = collected.flatMap(t => Seq(t._1, t._2)).distinct
      ids.toSeq.map(id => (id, find(id))).toDF("id", "comp")
    }
  }

  /** One LARGE-STAR pass: for each node u (over the symmetric
    * neighborhood), m = min(Γ(u) ∪ {u}); every strictly-larger
    * neighbor re-hangs onto m. Emits (v, m) edges. */
  private def largeStarStep(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One SMALL-STAR pass: edges directed large→small; for each node u,
    * m = min of its smaller neighborhood (∪ {u}); u and all its
    * smaller neighbors re-hang onto m. */
  private def smallStarStep(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  private lazy val ccLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup.cc")

  /** Alternating-star driver loop. At the fixpoint the edge set is a
    * depth-1 star per component (every node → component min), so the
    * labels fall straight out of the final edge list.
    *
    * Convergence check, cheapest-first: each round's materializing
    * aggregate also folds an order-independent edge checksum (count +
    * xxhash64 XOR — XOR, not SUM: the edges are distinct so nothing
    * cancels, and a sum of full-range hashes overflows Long under
    * ANSI mode) — a differing checksum proves non-convergence for
    * the price of the count we pay anyway, and only a MATCHING
    * checksum escalates to the exact set-difference proof (one
    * anti-join, normally paid exactly once, on the converging round). */
  private def largeSmallStar(p: DataFrame, maxIter: Int): DataFrame = {
    def summarize(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val seed = Hydration.persist(
      p.select(col("id_a").as("u"), col("id_b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    var edges = seed
    var sumCur = summarize(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val step = smallStarStep(largeStarStep(edges))
      // localCheckpoint EVERY round (r17). The previous shape
      // (checkpoint every 3rd round, plain cache between) let the
      // lineage nest ~3 generations of self-referencing star joins,
      // and the rendered plan TREE grows ~16× per un-truncated round
      // (each star step references its input ~4 times; string
      // rendering shares no subtrees) — the 64× octave measured
      // 149 MB plan strings (79 truncation events at the 32 KB cap)
      // inside ONE corpus_dedup run, with the tree TRAVERSAL cost
      // surviving the cap. A checkpoint costs the same materializing
      // action the cache paid (summarize() forces either), writes
      // executor-local blocks (freed by the ContextCleaner once the
      // superseded generation is unreferenced), and keeps every
      // round's plan at fixed depth — the convergence anti-join below
      // always compares two shallow checkpoint scans.
      val next = step.localCheckpoint()
      val sumNext = summarize(next) // materializes the round
      converged = sumNext == sumCur &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      // round 0's input is the CACHED seed frame — release it as soon
      // as it's superseded, a memory bound at scale (the caller's scope
      // releases it on every other exit path; unpersist is idempotent);
      // later generations are checkpoints and need no unpersist
      if (i == 0) edges.unpersist()
      edges = next
      sumCur = sumNext
      i += 1
    }
    // fail FAST, like lshParams: returning possibly under-merged labels
    // would let dedupCorpus/semanticCollapse silently keep extra
    // "survivors" from one incompletely-collapsed component — a
    // correctness hole no log line excuses. O(log n) convergence means
    // the default 25 rounds covers ~2^25-node components; not
    // converging indicates a pathological graph the caller must see.
    if (!converged) throw new IllegalStateException(
      s"largeSmallStar: no fixpoint after $maxIter rounds — labels would " +
        "merge incompletely; raise maxIter (components deeper than " +
        "O(log n) rounds indicate a pathological graph)")
    ccLog.info(s"largeSmallStar: converged in $i rounds")
    // isolated self-pairs (id_a == id_b with no other edge) still need
    // a label: union the input's node set back in as singletons
    val nodes = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    // eager checkpoint of the (node, comp) result — one row per node —
    // so the caller's scope can RELEASE the pinned input: returning a
    // lazy plan over the cached pairs would pin one frame per call in
    // the CacheManager for the session's lifetime (the exact leak the
    // caching contract above forbids; checkpoint blocks, by contrast,
    // are freed by the ContextCleaner once the RDD is unreferenced)
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .localCheckpoint()
  }

  /** Corpus-level dedup: returns the docs to KEEP. Exact duplicates
    * collapse by fingerprint (min id wins); near-duplicate clusters
    * (MinHash-LSH pairs → connected components) keep only the
    * cluster's min id. The output is the cleaned corpus — the actual
    * training-data operation, not just the pair report. */
  def dedupCorpus(docs: DataFrame, jaccardThreshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, k: Int = -1, bands: Int = -1,
      maxBucket: Int = HotBuckets.DefaultCap,
      strict: Boolean = false): DataFrame = {
    val (kk, bb) = resolveLsh(jaccardThreshold, k, bands)
    val kept = exactKept(docs.withColumn("__fp", fingerprint(col(textCol))),
      docs, idCol)
    val drop = clusterMins(Hydration.persist(shingled(kept, idCol, textCol,
        shingleSize)), minHashSignature(col("sh"), kk), jaccardThreshold, kk, bb,
        maxBucket, "minhash_lsh", strict)
      .filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    kept.join(drop, Seq(idCol), "left_anti")
  }

  /** The (id, __fp, sh) corpus index [[dedupIncrementalIndexed]]
    * dedups a batch against. For ONE batch, pin it
    * (`Hydration.persist(buildCorpusIndex(corpus))` — the call reads it
    * three times); for repeated ingestion persist it as a REAL table:
    * write the returned frame once (parquet/Delta), read it back for
    * every subsequent batch — the 100 TB corpus is then scanned
    * and shingled ONCE across all ingestions instead of once per
    * batch, and no executor-storage cache needs to survive between
    * jobs. Raw shingles (not signatures) are stored so any later
    * threshold/banding choice replays from the same index; the
    * `shingleSize` that built them is stamped into the `sh` column's
    * METADATA (schema metadata round-trips through parquet), so a
    * batch ingested months later with a different dial fails fast
    * instead of silently comparing 3-grams to 5-grams (jaccard ≈ 0 —
    * every cross duplicate would leak through with no error). */
  def buildCorpusIndex(corpus: DataFrame, shingleSize: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    corpus.select(col(idCol).as("id"),
      fingerprint(col(textCol)).as("__fp"),
      shingles(col(textCol), shingleSize).as("sh", shingleStamp(shingleSize)))

  private[graft] val ShingleSizeMetaKey = "graft.shingleSize"

  /** Incremental corpus dedup — the growing-training-set operation:
    * dedup a NEW batch against an EXISTING corpus without ever
    * self-joining the corpus. Returns the rows of `newDocs` to ADD:
    * first the batch is internally deduped (exact fingerprint collapse
    * + near-dup clustering — the new side is the small one), then
    * exact matches against the corpus are removed by a fingerprint
    * anti-join (one hash shuffle), then near-matches by an ASYMMETRIC
    * banded LSH join with exact-Jaccard verification.
    *
    * At 100 TB the corpus side dominates; it is scanned ONCE into the
    * (id, fingerprint, shingles) index, and the NEW batch is shingled
    * + signed ONCE into a cached (id, sh, sig) projection that feeds
    * the within-batch pass and the cross pass (the round-3 shape
    * computed it twice).
    *
    * `corpusIndex` is [[buildCorpusIndex]]' output — freshly built
    * (and pinned), or read back from a persisted index table.
    * `shingleSize` must match the index's build parameter: the batch
    * side is shingled here and verified against the index's stored
    * shingles — enforced against the [[ShingleSizeMetaKey]] stamp in
    * the `sh` column metadata (a pure schema check, no job). The index
    * frame's persistence is the CALLER's policy (a parquet-backed index
    * needs none); this method never caches it. */
  def dedupIncrementalIndexed(newDocs: DataFrame, corpusIndex: DataFrame,
      jaccardThreshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, k: Int = -1, bands: Int = -1,
      maxBucket: Int = HotBuckets.DefaultCap): DataFrame = {
    requireShingleStamp(corpusIndex, "sh", shingleSize, "corpus index")
    val (kk, bb) = resolveLsh(jaccardThreshold, k, bands)
    // 0b. fingerprint the batch ONCE and hydrate it: the md5-canonical
    //     fingerprint (lower + regex strip + md5 over full text) is the
    //     batch's most expensive per-row projection after shingling,
    //     and the previous shape computed it TWICE (within-batch keyed
    //     aggregate, then AGAIN for the cross-corpus anti-join) while
    //     re-executing the caller's upstream chain for every consumer
    //     (keyed agg side, semi-join left side, shingle-projection
    //     build, and the cross anti-join — 4 executions measured).
    //     Batch-scale cache, the `proj` discipline (r20 optimization).
    val fped = Hydration.persist(
      newDocs.withColumn("__fp", fingerprint(col(textCol))))
    // 1. exact within-batch collapse (min-id survivor)
    val kept = exactKept(fped, fped, idCol)
    // 2. ONE shingle+signature projection of the exact-kept batch,
    //    cached: it feeds the within-batch banding, both hydration
    //    joins, AND the cross pass — the round-3 review flagged the
    //    previous shape for shingling + signing the batch twice
    //    (once inside dedupCorpus, again for the cross join)
    val proj = Hydration.persist(shingled(kept, idCol, textCol, shingleSize)
      .withColumn("sig", minHashSignature(col("sh"), kk)))
    // 3. within-batch near-dup: the shared cluster core (star fallback
    //    for oversized buckets — a batch full of one templated page
    //    must still collapse) → cluster-min survivors
    val drop = clusterMins(proj, col("sig"), jaccardThreshold, kk, bb,
        maxBucket, "incremental_batch", strict = false)
      .filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    val newKept = kept.join(drop, Seq(idCol), "left_anti")
    // 4. exact cross-dedup: fingerprint anti-join against the corpus —
    //    __fp carried from the step-0b projection, not recomputed
    val afterExact = newKept
      .join(corpusIndex.select(col("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")
    // 5. near cross-dedup: ASYMMETRIC banded join (new bands × corpus
    //    bands — the corpus contributes a slim banded projection,
    //    never a self-join); the new side's band fan-out is FILTERED
    //    from the step-2 computation, not recomputed. Candidate volume
    //    scales with the NEW batch — the point of incremental
    //    ingestion. Verification hydrates hashed gram arrays
    //    ([[hashedGramJaccard]]) — no gram STRING ever rides a
    //    candidate row.
    //    Oversized buckets on EITHER side reduce to their bucket-min
    //    representative ([[HotBuckets.guardRep]]) instead of dropping:
    //    a new doc duplicating an oversized-bucket corpus mega-cluster
    //    is still verified against the cluster's representative, and
    //    the bucket's cross-product contribution stays O(cap). The
    //    rep-guard runs AFTER the survivor semi-join so the new side's
    //    representative is itself a within-batch survivor. Both guarded
    //    sides leave their windows hash-partitioned and sorted on
    //    (band, bucket), so the join is merge-hinted and runs in place
    //    — [[HotBuckets.starSelfJoinCandidates]]' stable band join.
    def side(banded: DataFrame, what: String, id: String) = HotBuckets
      .guardRep(banded, Seq("band", "bucket"), "id", maxBucket, what)
      .select(col("band"), col("bucket"), col("id").as(id))
    val corpusShingled = corpusIndex.filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"))
    val candidates = side(bandedOf(proj, col("sig"), kk, bb)
        .join(afterExact.select(col(idCol).as("id")), Seq("id"), "left_semi"),
        "incremental_batch_cross", "new_id")
      .hint("merge")
      .join(side(bandedOf(corpusShingled, minHashSignature(col("sh"), kk), kk, bb),
        "incremental_corpus", "old_id"), Seq("band", "bucket"))
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    val dupNewIds = hashedGramJaccard(candidates, "new_id", "old_id",
        proj, corpusShingled, jaccardThreshold)
      .select(col("new_id").as(idCol)).distinct()
    afterExact.join(dupNewIds, Seq(idCol), "left_anti")
  }

  /** One complete ingestion step against a PERSISTED parquet corpus
    * index — the repeated-batch form of incremental dedup for a
    * corpus that outlives any one Spark job: read the index table,
    * dedup `batch` against it ([[dedupIncrementalIndexed]]), append
    * the accepted survivors' index rows, return the accepted docs.
    *
    * 100 TB contract: per batch, the corpus index is SCANNED (joins
    * against its fingerprints/shingles) but never re-shingled and
    * never rewritten — the append writes only the batch survivors'
    * rows (O(batch) new data per ingestion), so the index's existing
    * parquet files are immutable across the lifecycle and the raw
    * corpus text is never touched again after its own ingestion.
    * ScaleBench's `index_lifecycle` row pins both properties.
    *
    * The accepted frame is EAGERLY local-checkpointed before the
    * index append — load-bearing, not an optimization: a lazily
    * cached plan re-executed after the append re-lists the index
    * path, sees the batch's own just-appended rows, and dedups every
    * survivor against itself (returning an empty frame). The
    * checkpoint pins the result computed against the PRE-append index
    * and the append re-shingles only the O(batch) survivors from
    * those blocks; the internal batch projection pins are released
    * right after the checkpoint by a [[Hydration.scoped]] block (the
    * repeated-batch API must not accumulate one pinned frame per
    * ingestion across a long-lived job).
    * (localCheckpoint blocks do not survive executor loss; a caller
    * needing a fault-tolerant handle writes the returned frame to the
    * lake and reads it back.)
    *
    * CRASH CONTRACT — the index append and the caller's own write of
    * the accepted docs are not atomic. If the process dies between
    * them, the INDEX is consistent (no duplicates can ever enter),
    * but a naive replay of the same batch returns an EMPTY frame:
    * every accepted doc is already in the index, and its text was
    * never delivered to the caller's output. Recover the crashed
    * batch's accepted docs by id instead of replaying —
    * `batch.join(spark.read.parquet(indexPath)
    * .select(col("id").as(idCol)).distinct(), Seq(idCol),
    * "left_semi")` (minus anything already delivered) — then write
    * THAT to the output. Requires globally unique doc ids, which the
    * index keys on anyway. */
  def ingestBatch(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame,
      jaccardThreshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, k: Int = -1, bands: Int = -1,
      maxBucket: Int = HotBuckets.DefaultCap): DataFrame = {
    val index = spark.read.parquet(indexPath)
    // the checkpoint materializes everything the batch projection pins
    // feed, and the scope releases them right after it: holding them
    // past this call would leak pinned frames per ingestion
    val accepted = Hydration.scoped(dedupIncrementalIndexed(batch, index,
      jaccardThreshold, idCol, textCol, shingleSize, k, bands, maxBucket)
      .localCheckpoint())
    buildCorpusIndex(accepted, shingleSize, idCol, textCol)
      .write.mode("append").parquet(indexPath)
    accepted
  }

  /** Maintenance compaction for a long-lived on-disk corpus index:
    * every [[ingestBatch]] append lands one small file set, so after
    * thousands of ingestions the directory degrades listing and scan
    * (the classic small-files problem — at one append per hour for a
    * year, ~9k file groups for what is logically one table). Rewrites
    * the index to `targetFiles` parquet files (default: sized from
    * the directory's current bytes at ~128 MB per file) via the same
    * scratch-then-rename-swap discipline as the lake maintenance jobs
    * ([[graft.sources.Lake.compact]] shares the swap): ONE data write
    * to the scratch dir, then two metadata renames (live→trash,
    * scratch→live). The shingle-size stamp rides the schema through
    * the rewrite, so the fail-fast dial check survives compaction.
    *
    * Single-writer contract (same as parquet append itself): run
    * compaction only when no concurrent [[ingestBatch]] is mid-flight.
    * The contract is ENFORCED by a listing-epoch check, not just
    * documented: the live directory's file listing (name → (bytes,
    * mtime)) is snapshotted before the scratch rewrite and re-compared
    * immediately before the swap — an append that landed mid-compaction
    * changes the listing, the compaction fails loudly
    * (`ConcurrentModificationException` naming the new files), the
    * scratch dir is cleaned up, and the live index — INCLUDING the
    * concurrent append — is left untouched (retry the compaction once
    * the writer quiesces; nothing is lost). The unguarded window
    * shrinks from the whole O(index) rewrite to the listing→rename
    * metadata gap; full mutual exclusion under genuinely concurrent
    * writers needs an external lock or a table format with commit
    * protocol (Delta/Iceberg), which plain-parquet appends themselves
    * lack anyway. Crash safety: a crash before the first rename leaves
    * the live index untouched; between the renames, BOTH copies
    * survive on disk (recover by renaming either back) — at no point
    * is the only copy the scratch dir. */
  def compactCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetFiles: Int = 0): Unit =
    compactCorpusIndexStaged(spark, indexPath, targetFiles, () => ())

  /** [[compactCorpusIndex]] with a test seam: `beforeSwap` runs after
    * the scratch rewrite and before the epoch check — the spec injects
    * a concurrent [[ingestBatch]] there and asserts the loud failure
    * plus the append's survival. */
  private[graft] def compactCorpusIndexStaged(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      targetFiles: Int, beforeSwap: () => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n =
      if (targetFiles > 0) targetFiles
      else {
        val bytes = fs.getContentSummary(p).getLength
        math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
      }
    def listingEpoch(): Map[String, (Long, Long)] =
      fs.listStatus(p).map(s =>
        s.getPath.getName -> (s.getLen, s.getModificationTime)).toMap
    val epochBefore = listingEpoch()
    val scratch = indexPath.stripSuffix("/") + "__compact_stage"
    // coalesce, not repartition: no shuffle — each output file unions
    // whole input splits, which is all compaction needs
    spark.read.parquet(indexPath).coalesce(n)
      .write.mode("overwrite").parquet(scratch)
    beforeSwap()
    val epochAfter = listingEpoch()
    if (epochAfter != epochBefore) {
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val changed = (epochAfter.keySet -- epochBefore.keySet) ++
        (epochBefore.keySet -- epochAfter.keySet) ++
        epochBefore.keySet.filter(k => epochAfter.get(k) != epochBefore.get(k))
      throw new java.util.ConcurrentModificationException(
        s"compactCorpusIndex: $indexPath changed during compaction " +
          s"(${changed.take(5).mkString(", ")}${if (changed.size > 5) ", …" else ""}) " +
          "— a concurrent append would have been lost by the swap; the live " +
          "index (including that append) is untouched, the scratch copy was " +
          "discarded — quiesce writers and retry")
    }
    graft.sources.Lake.swapInto(spark, indexPath, scratch)
  }

  /** Column metadata carrying the [[ShingleSizeMetaKey]] stamp. */
  private def shingleStamp(shingleSize: Int): Metadata =
    new MetadataBuilder().putLong(ShingleSizeMetaKey, shingleSize.toLong).build()

  /** Fails fast when `table`'s `column` carries a [[ShingleSizeMetaKey]]
    * stamp other than `shingleSize` — comparing grams of two widths
    * matches (almost) nothing, so every duplicate or contaminated doc
    * would pass silently. A pure schema check, no job; the stamp
    * survives the parquet round-trip, and tables written before it
    * existed skip the check. */
  private def requireShingleStamp(table: DataFrame, column: String,
      shingleSize: Int, what: String): Unit =
    table.schema.find(_.name == column).map(_.metadata)
      .filter(_.contains(ShingleSizeMetaKey)).foreach { m =>
        val built = m.getLong(ShingleSizeMetaKey)
        require(built == shingleSize.toLong,
          s"$what was built with shingleSize=$built but this call uses " +
            s"shingleSize=$shingleSize — rebuild it or pass the matching " +
            "shingleSize")
      }

  /** Typo-level near-dup pairs via blocked edit distance: normalize,
    * block on (normalized prefix, length bin), verify with
    * `levenshtein` over the first `maxLen` normalized chars.
    *
    * The length bin is LOSSLESS extra blocking: a pair within
    * `maxDist` edits cannot differ by more than `maxDist` chars, so
    * with bin width W = maxDist+1 the candidate's bin is one of two
    * consecutive values — the left side explodes to both (the
    * exploded-bin trick from [[graft.plans.BinRangeJoinRule]], applied
    * to string length). This splits pathologically dense prefix blocks
    * (many same-prefix docs of different lengths) by a provably-implied
    * key instead of paying levenshtein on them: measured 47× → ~linear
    * on a 10×-amplified corpus where every block was 10-dense. Prefix
    * recall holes remain the standard blocked-fuzzy-join tradeoff.
    * Both blocking keys and the verify are engine-portable, so this
    * family member is fully oracle-checkable — and the oracle (which
    * blocks only on prefix) doubles as the losslessness proof.
    *
    * Like every candidate join in the module, the (blk, lbin) buckets
    * are hot-bucket guarded on BOTH sides (the guard windows over the
    * join's own shuffle key, so it costs no extra shuffle): a
    * degenerate block — e.g. ten thousand docs opening with the same
    * twelve characters and near-equal length — is dropped and
    * warn-logged instead of paying an unbounded B² of O(maxLen²)
    * levenshtein calls in one task. Per-task bound here is 2·cap²
    * (not cap²): an a-side join bucket unions TWO guarded adjacent
    * bins, each ≤ cap — size `maxBucket` to half the per-task pair
    * budget for this operator. Report-only callers who cannot accept
    * a silent drop set `strictBuckets = true` (query fails on the
    * first oversized block) or poll
    * [[HotBuckets.lastObservation]]`("editDistancePairs")` after the
    * action. */
  def editDistancePairs(docs: DataFrame, maxDist: Int,
      idCol: String = "doc_id", textCol: String = "text",
      prefixLen: Int = 12, maxLen: Int = 80,
      maxBucket: Int = HotBuckets.DefaultCap,
      strictBuckets: Boolean = false): DataFrame = {
    // candidate lengths span [len-maxDist, len+maxDist] — width
    // 2·maxDist+1 — so bins of exactly that width cover it with two
    // consecutive keys (the ≤-2-bins lemma needs bin width ≥ range width)
    val w = 2 * maxDist + 1
    val norm = substring(
      lower(regexp_replace(col(textCol), "[^a-zA-Z0-9 ]", "")), 1, maxLen)
    val keyed = docs.select(col(idCol).as("id"), norm.as("nrm"))
      .withColumn("blk", substring(col("nrm"), 1, prefixLen))
      .withColumn("len", length(col("nrm")))
    // guard on the CANONICAL (blk, bin-of-length) BEFORE the a-side
    // explode: guarding the exploded side would count the union of two
    // adjacent bins per bucket — the cap would fire at half the
    // promised per-bin density, and drop a-side rows whose bin side b
    // still keeps (asymmetric pair loss below the dial's promise).
    // Guarding once upstream removes an oversized bin's docs from BOTH
    // sides symmetrically, and both branches share the guard's
    // exchange (side b joins on the same key the window partitioned).
    val guarded = HotBuckets.guard(keyed
      .withColumn("lbin", floor(col("len").cast("double") / w).cast("long")),
      Seq("blk", "lbin"), maxBucket, "editDistancePairs", strictBuckets)
    val aBase = floor((col("len") - maxDist).cast("double") / w).cast("long")
    val a = guarded.drop("lbin")
      .withColumn("lbin", explode(array(aBase, aBase + 1)))
      .select(col("blk"), col("lbin"), col("id").as("id_a"),
        col("nrm").as("nrm_a"), col("len").as("len_a"))
    val b = guarded
      .select(col("blk"), col("lbin"), col("id").as("id_b"),
        col("nrm").as("nrm_b"), col("len").as("len_b"))
    a.join(b, Seq("blk", "lbin"))
      .filter(col("id_a") < col("id_b") &&
        // implied by dist <= maxDist; an int compare that spares the
        // O(maxLen²) levenshtein on length-distant same-block pairs
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("nrm_a"), col("nrm_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** N-gram Jaccard over prefix-blocked candidates: block on a cheap
    * key (here: text prefix) to avoid the cross join, then exact
    * Jaccard on word shingles. Blocking key choice is the scale lever. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      blockKey: Column => Column,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3,
      maxBucket: Int = HotBuckets.DefaultCap,
      strictBuckets: Boolean = false): DataFrame = {
    val keyed = HotBuckets.guard(
      docs.select(col(idCol).as("id"), blockKey(col(textCol)).as("blk"),
        shingles(col(textCol), shingleSize).as("sh")),
      Seq("blk"), maxBucket, "ngram_block", strictBuckets)
    val a = keyed.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = keyed.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) ≥ `threshold`
    * over distinct word shingles — the asymmetric-duplicate detector
    * symmetric Jaccard cannot be tuned into. A short document embedded
    * verbatim inside a much longer one (a paragraph wrapped in
    * boilerplate, an article quoted inside an aggregator page) has
    * containment ≈ 1 but Jaccard ≈ |A|/|B| → 0 as the wrapper grows,
    * so it passes every Jaccard threshold that still rejects genuine
    * non-duplicates (the DedupSpec planted case pins exactly this
    * divergence).
    *
    * Candidate generation is an INVERTED-INDEX self-join: explode each
    * doc's distinct shingles, join on the shingle, count matches per
    * pair — shingles are distinct per doc ([[shingles]] contract), so
    * each common shingle contributes exactly one joined row and the
    * per-pair count IS |A∩B|. Shingles cross the join as 8-byte
    * xxhash64 keys, not raw strings (the q68 lesson; same collision
    * contract — a collision can only nudge one pair's count by one).
    *
    * Scale shape: the join key is the shingle, so ubiquitous
    * boilerplate shingles ("all rights reserved") are the hot buckets
    * — df(g) docs sharing gram g contribute df(g)² candidate rows.
    * [[HotBuckets.guard]] drops grams above `maxBucket` document
    * frequency BEFORE the join (strict mode raises instead), and the
    * per-doc sizes |A| are counted AFTER the guard, so the score stays
    * internally consistent: it is exact containment over the df ≤ cap
    * vocabulary — the same "ignore non-discriminative stopword grams"
    * semantics df-pruned similarity joins use deliberately. The guard
    * window and the self-join share the shingle-hash shuffle; pair
    * counting is a partial-aggregatable count.
    *
    * ==Guard recall contract (measured, not assumed)==
    * What the cap can and cannot cost, by pair class: a pair whose
    * evidence includes ANY sub-cap (pair-discriminative) gram keeps
    * both its candidate row and — because |A| shrinks alongside |A∩B|
    * — a containment score computed over the same surviving
    * vocabulary, so content-backed true pairs survive the cap
    * (ScaleBench's `containment_guard_recall` plant: 1000 true
    * contained pairs under corpus-wide boilerplate → content-pair
    * recall 1.0 at cap 100). The loss is confined to pairs whose
    * ENTIRE overlap is capped vocabulary — e.g. a document that IS
    * pure boilerplate — which drop out completely (measured overall
    * recall on that plant quantifies exactly this class; it is also
    * the class df-pruned similarity deliberately treats as
    * non-evidence). Callers for whom boilerplate-only duplication IS
    * the signal should run [[exactByFingerprint]] first (byte-level
    * boilerplate collapses exactly) or raise `maxBucket`/set
    * `strictBuckets`. */
  def containmentPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3,
      maxBucket: Int = HotBuckets.DefaultCap,
      strictBuckets: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val exploded = shingled(docs, idCol, textCol, shingleSize)
      .select(col("id"), explode(col("sh")).as("g"))
      .select(col("id"), xxhash64(col("g")).as("gh"))
    val guarded = HotBuckets.guard(exploded, Seq("gh"), maxBucket,
      "containment_grams", strictBuckets)
    // |A| over the SURVIVING vocabulary — one row per doc, joined back
    // onto the (small) verified pair set at the end
    val sizes = guarded.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val a = guarded.select(col("gh"), col("id").as("id_a"))
    val b = guarded.select(col("gh"), col("id").as("id_b"))
    a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** C4-style SPAN-level dedup: the corpus-global "remove repeated
    * spans, keep the first occurrence" pass (C4 deduplicates
    * three-sentence spans; this is the flat-text variant on aligned
    * `spanWords`-token chunks). Each doc's tokens split into
    * consecutive chunks; a chunk's FIRST occurrence corpus-wide (by
    * (id, chunk index) — deterministic) survives, later occurrences
    * are cut, and each doc's text is rebuilt from its surviving chunks
    * in order. Returns `docs` with `textCol` replaced (docs whose
    * every chunk was seen elsewhere become empty strings, not dropped
    * rows — the caller decides the policy).
    *
    * Scale shape: one projection to (id, idx, chunk), one AGGREGATE
    * for the dedup decision, one groupBy to reassemble — all
    * hash-partitioned by chunk/id, nothing global. The decision
    * "first (id, idx) per chunk" is `min(struct(id, idx))` — NOT a
    * `row_number` window partitioned by chunk: the min is
    * partial-aggregatable (map-side combine collapses a hot span's
    * occurrences BEFORE the shuffle), where the window must sort every
    * occurrence of a span in one reducer partition — a
    * corpus-boilerplate span repeated across millions of docs ("all
    * rights reserved…") made that a single-task straggler, the exact
    * skew class [[HotBuckets]] guards everywhere else. No hot-key
    * guard is needed here at all: by the time a span key crosses the
    * wire it is one row per map partition. (Spark plans a struct min
    * as SortAggregate — the buffer is not UnsafeRow-mutable — but
    * that sort is per-partition and PRE-combine: bounded by partition
    * size, never by key frequency; the PlanQualitySpec gate pins the
    * Partial-mode aggregate and the absence of any Window.) The
    * winner row needs no join-back either — chunk is the group key
    * and (id, idx) fall out of the min struct.
    *
    * The span key crossing the wire is `xxhash64(chunk)` — 8 bytes —
    * and the rebuild re-slices each doc's OWN tokens by the surviving
    * chunk indexes in-row, so the chunk TEXT never crosses an
    * exchange at all (r20 optimization; the previous shape shuffled
    * every chunk string through the decision aggregate AND carried
    * the winners' strings through the reassembly — at 100 TB that is
    * the whole corpus's text through two shuffles; guide §2.3's
    * "shuffle keys and metadata instead of payloads"). Rebuilding
    * from sorted surviving indexes is string-identical to joining the
    * surviving chunk texts: chunks are token slices space-joined, so
    * both forms are exactly the surviving tokens space-joined in
    * position order. Collision contract ([[decontaminate]]): a 64-bit
    * chunk-hash collision would cut a non-duplicate chunk —
    * probability ≈ chunks²/2⁶⁴ corpus-wide, deterministic, and the
    * same stance every hash-keyed operator here takes. */
  def dedupSpans(docs: DataFrame, spanWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    // chunk hashing and the surviving-index rebuild are native
    // one-pass kernels (r20 — the WordShingles/WindowHashes lesson
    // applied to the stride-n case): the composable
    // transform(sequence)+slice+array_join+xxhash64 projection and the
    // slice-per-surviving-index rebuild ran as interpreted
    // higher-order functions with an array copy per slice, ~0.6 s of
    // every pipeline query's floor at sf0.1. Hash values and rebuilt
    // text are BIT-IDENTICAL to the composable forms (ChunkKernelSpec
    // pins the equivalence on the edge-case corpus; the
    // q70/q83/q143/q147/q151 oracles re-gated at both SFs).
    val chunkHashes = graft.functions.ChunkHashes
      .chunkHashesNative(col(textCol), spanWords)
    val exploded = docs
      .select(col(idCol).as("__id"), posexplode(chunkHashes))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "__h")
    val kept = exploded
      .groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("idx"))).as("__first"))
      .select(col("__first.__id").as("__id"), col("__first.idx").as("idx"))
    val rec = kept.groupBy(col("__id"))
      .agg(array_sort(collect_list(col("idx"))).as("__idxs"))
    docs.join(rec.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn(textCol, coalesce(
        graft.functions.ChunkRebuild.chunkRebuildNative(col(textCol),
          col("__idxs"), spanWords),
        lit("")))
      .drop("__idxs")
  }

  /** The hashed n-gram array shared by every gram-decontamination
    * path (exact, Bloom-pruned, prebuilt, and the streaming twin) —
    * hash INSIDE the array, before the generator: the gram strings
    * never outlive the transform (a generator cannot nest under an
    * expression anyway), and ONE kernel means the stream and batch
    * sides cannot drift on gram width/tokenization. */
  def gramHashArray(text: Column, n: Int): Column =
    transform(shingles(text, n), g => xxhash64(g))

  /** What [[decontaminate]] probes a corpus's gram hashes against. */
  sealed trait Against

  /** The benchmark's distinct gram hashes, hash-joined directly. The
    * benchmark side is tiny (an eval suite), so Catalyst broadcasts
    * its hash set and the corpus never shuffles at all. */
  final case class Exact(benchmark: DataFrame) extends Against

  /** A `numBits` Bloom filter ([[Bloom]], 3 hashes) over the
    * benchmark's gram hashes prunes the corpus grams before the exact
    * verify join. Survivors are EXACTLY [[Exact]]'s (Bloom has no false
    * negatives, and false positives die in the verify), but the
    * benchmark crosses the cluster as `numBits/8` bytes instead of a
    * ~30-50 B/gram join hashmap — the form for a consortium-scale
    * blocklist (10⁸-10⁹ grams) whose hash set no longer fits a
    * broadcast; the verify join then shuffles. Building the filter is
    * one extra pass over the benchmark (collecting ≤ numBits/64 longs
    * to the driver), and the verify join re-reads it: at blocklist
    * scale pass a persisted benchmark. */
  final case class Bloomed(benchmark: DataFrame, numBits: Int = 1 << 20)
      extends Against

  /** [[Bloomed]] against a PERSISTED benchmark — the reuse form for
    * "hundreds of ingestion batches, one blocklist": `grams` is
    * [[benchmarkGrams]]' output (fresh, or read back from parquet) and
    * `filter` the Bloom filter built over its `gram_h` column
    * ([[SketchStore.writeBloom]]). No benchmark re-scan, no filter
    * rebuild; survivors are [[Exact]]'s as long as both come from the
    * same benchmark revision. The gram width is checked: `grams`
    * carries the `n` it was built with, and probing it at another
    * width fails fast instead of matching nothing. */
  final case class Prebuilt(grams: DataFrame, filter: Bloom.Filter)
      extends Against

  /** The benchmark side of decontamination as a PERSISTABLE table: the
    * distinct `gram_h` hashes of `benchmark`'s word n-grams, with `n`
    * stamped into the column's metadata ([[ShingleSizeMetaKey]] — it
    * survives the parquet round-trip). Build it and its Bloom filter
    * ONCE per benchmark revision, then probe every batch with
    * [[Prebuilt]]. */
  def benchmarkGrams(benchmark: DataFrame, n: Int = 13,
      textCol: String = "text"): DataFrame =
    benchmark
      .select(explode(gramHashArray(col(textCol), n)).as("gram_h"))
      .distinct()
      .select(col("gram_h").as("gram_h", shingleStamp(n)))

  /** (id, gram_h): every corpus gram hash `against` confirms — the one
    * hit core of [[decontaminate]] and [[contaminationFraction]]. A
    * Bloom filter, when there is one, prunes the exploded corpus grams
    * before the exact verify join. */
  private def gramHits(corpus: DataFrame, against: Against, n: Int,
      idCol: String, textCol: String): DataFrame = {
    val (grams, filter) = against match {
      case Exact(benchmark) => (benchmarkGrams(benchmark, n, textCol), None)
      case Bloomed(benchmark, numBits) =>
        val table = benchmarkGrams(benchmark, n, textCol)
        (table, Some(Bloom.buildWords(table, "gram_h", numBits)))
      case Prebuilt(table, bloom) =>
        requireShingleStamp(table, "gram_h", n, "benchmark gram table")
        (table, Some(bloom))
    }
    val probe = corpus.select(col(idCol).as("id"),
      explode(gramHashArray(col(textCol), n)).as("gram_h"))
    filter.fold(probe)(f => probe.filter(Bloom.mightContain(col("gram_h"), f)))
      .join(grams, Seq("gram_h"))
  }

  /** Benchmark DECONTAMINATION — drop training docs that collide with
    * an evaluation set on any word n-gram (the standard leakage gate:
    * GPT-3 used 13-gram collision; pick `n` per document length).
    * Returns the corpus rows that survive; `against` picks how the
    * benchmark's grams are probed ([[Exact]], [[Bloomed]],
    * [[Prebuilt]] — the survivors are the same for all three).
    *
    * Shape at 100 TB: both sides project their n-grams down to an
    * 8-byte `xxhash64` BEFORE any join boundary — never doc × doc, and
    * never the gram STRING: a 13-gram is ~100 raw text bytes, so
    * joining on the string ships ~13× the corpus's text volume into
    * the join (and holds it in the broadcast hashmap); the hash carries
    * 16 bytes per exploded gram instead. Contaminated ids collapse via
    * distinct + anti-join.
    *
    * Collision contract: a 64-bit hash equality stands in for gram
    * equality, so a corpus gram colliding with a DIFFERENT benchmark
    * gram falsely drops one doc. P(any false drop) ≈ |corpus grams| ×
    * |bench grams| / 2^64 — at 10^12 corpus grams × 10^6 bench grams
    * that is ~5×10^-5 expected docs; acceptable for a DROP-side gate
    * (it can only over-clean, never leak contamination through). */
  def decontaminate(corpus: DataFrame, against: Against, n: Int = 13,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val contaminated = gramHits(corpus, against, n, idCol, textCol)
      .select(col("id").as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** LEAKAGE-SAFE train/eval split: deterministic percentage split
    * where every member of a duplicate CLUSTER — exact-fingerprint
    * groups unioned with MinHash near-dup components — lands on the
    * SAME side. A plain per-doc hash split leaks: with near-dups
    * split across sides, the eval set scores memorization of train
    * twins, the exact failure decontamination exists to prevent,
    * re-created by the splitter itself. Here the split key is the
    * CLUSTER REPRESENTATIVE (min id through exact collapse, then
    * component-min through near-dup edges), so twins travel together
    * by construction.
    *
    * Deterministic and engine-portable: the representative is a pure
    * function of the corpus (fingerprint min + component min under
    * the same threshold/banding contract as [[dedupCorpus]]), and the
    * side assignment is [[Sampling.portableBucket]] (md5-domain) on
    * the representative — replayable in any engine, stable across
    * runs/partitionings, and stable under APPENDING new docs (an
    * existing cluster's representative never changes unless a new
    * edge merges clusters — the same contract as incremental dedup).
    *
    * Scale shape: exactly [[dedupCorpus]]'s (one fingerprint shuffle,
    * LSH banded pair join with hot-bucket guards, CC loop) plus two
    * broadcast-sized label joins; the split itself is a narrow map.
    *
    * Output: the input rows plus `split_rep` (the cluster
    * representative id) and `split` ('train' | 'eval') — EVERY input
    * row, including NULL-text docs: their fingerprint is NULL, and
    * the rep joins below are null-SAFE, so they collapse to ONE
    * exact group (rep = min id — a doc whose content is unknown is
    * conservatively kept with its unknown twins on one side, the
    * q119 oracle's window-over-md5 semantics). A plain equi-join
    * would silently drop them from BOTH sides — silent row loss in
    * a train/eval splitter, the library's silent-wrong class. The
    * null group contributes no near-dup edges (no shingles to hash),
    * so its rep never merges with a content cluster.
    *
    * EAGER: the result is local-checkpointed before returning, so the
    * fingerprint and shingle pins are released inside the call, on
    * every exit path ([[Hydration.scoped]]); the only storage left
    * behind is the result's own checkpoint blocks. */
  def leakageSafeSplit(docs: DataFrame, trainPct: Int,
      jaccardThreshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      maxBucket: Int = HotBuckets.DefaultCap,
      strict: Boolean = false): DataFrame = Hydration.scoped {
    require(trainPct >= 1 && trainPct <= 99,
      s"trainPct=$trainPct must be in [1, 99] — 0 or 100 is not a split")
    val withFp = Hydration.persist(
      docs.withColumn("__fp", fingerprint(col(textCol))))
    // hydrated: withFp feeds the rep aggregate AND both uses of `repped`
    // (exactReps derivation + the final label join-back) — without the
    // pin the md5-canonical fingerprint ran over the full corpus
    // twice-plus, and the rep aggregate twice (r20 optimization; the
    // [[dedupCorpus]] multi-consumer discipline)
    val r = withFp.groupBy(col("__fp")).agg(min(col(idCol)).as("__rep0"))
      .withColumnRenamed("__fp", "__fp_r")
    // null-safe rep join (NULL <=> NULL matches): still a plain
    // shuffled equi-join on the fingerprint, just with NULL as one
    // more key value instead of a dropped one
    val repped = withFp.join(r, withFp("__fp") <=> r("__fp_r")).drop("__fp_r")
    val exactReps = repped.filter(col(idCol) === col("__rep0"))
      .drop("__fp", "__rep0")
    val (kk, bb) = lshParams(jaccardThreshold)
    val comps = clusterMins(Hydration.persist(shingled(exactReps, idCol,
        textCol, shingleSize)), minHashSignature(col("sh"), kk),
        jaccardThreshold, kk, bb, maxBucket, "minhash_lsh", strict)
      .withColumnRenamed("id", "__rep0")
    repped
      .join(comps, Seq("__rep0"), "left")
      .withColumn("split_rep", coalesce(col("comp"), col("__rep0")))
      .withColumn("split",
        when(Sampling.portableBucket(col("split_rep"), 100) < trainPct,
          lit("train")).otherwise(lit("eval")))
      .drop("__fp", "__rep0", "comp")
      .localCheckpoint()
  }

  /** Contamination FRACTION per document — the tolerance-threshold
    * variant of [[decontaminate]]: instead of dropping on ANY shared
    * n-gram, measure what share of each doc's (distinct) grams appear
    * in the benchmark, and let the caller set the drop line. The
    * any-gram gate over-cleans long documents (one idiomatic 13-gram
    * kills a book); real decontamination pipelines drop on a fraction
    * and audit the mid-band — this emits the number they need.
    *
    * Same scale shape as [[decontaminate]] with [[Bloomed]]: grams cross joins as
    * 8-byte hashes only, the Bloom filter prunes the exact-verify
    * join's input (a gram failing the filter is DEFINITELY clean —
    * no false negatives — so it never reaches the join; BLOOM false
    * positives die in the verify). The per-doc totals ride a narrow
    * no-shuffle projection of the corpus, not a re-aggregation of
    * the exploded grams.
    *
    * Collision contract (the precise exactness claim): counts are
    * exact IN THE xxhash64 GRAM DOMAIN — the verify join equates
    * 64-bit hashes, not gram strings, so a corpus gram colliding
    * with a DIFFERENT benchmark gram inflates that doc's `n_hit` by
    * one and the verify cannot remove it ([[decontaminate]]'s
    * documented contract, measured there at ~5·10⁻⁵ expected
    * spurious hits for 10¹² corpus × 10⁶ benchmark grams). For a
    * drop-threshold consumer this over-counts toward over-cleaning,
    * never toward leaking contamination through.
    *
    * `frac` is the RAW double quotient n_hit/n_grams, deliberately
    * un-rounded: both engines perform the one identical IEEE
    * division, while round(·,4) at an exactly-representable half
    * boundary (1/32 = 0.03125) is rounding-mode-dependent across
    * engines — the raw quotient is the bit-stable contract.
    *
    * Output: (idCol, n_grams, n_hit, frac), one row per corpus doc
    * (zero-hit docs included — the auditable shape). Shingles are
    * per-doc DISTINCT (the shingler's contract), so `n_hit` counts
    * leaked distinct grams, never repeated occurrences. A NULL-text
    * doc has nothing to measure: it emits (n_grams = NULL, n_hit = 0,
    * frac = NULL) — explicitly guarded, because the unguarded path
    * rides Spark's legacy `size(NULL) = -1` into a nonsense
    * (n_grams = -1, frac = -0.0) row that NO other engine reproduces
    * (the q116 oracle yields NULLs there). */
  def contaminationFraction(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 13, idCol: String = "doc_id", textCol: String = "text",
      numBits: Int = 1 << 20): DataFrame = {
    val hits = gramHits(corpus, Bloomed(benchmark, numBits), n, idCol, textCol)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__hit"))
    corpus
      .select(col(idCol).as("id"),
        // NULL text → NULL gram array → legacy size() = -1; guard to
        // NULL so frac null-propagates instead of emitting -0.0
        when(col(textCol).isNotNull,
          size(gramHashArray(col(textCol), n)).cast("long")).as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("__hit"), lit(0L)).cast("long").as("n_hit"),
        (coalesce(col("__hit"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("frac"))
  }

  /** Every n-token window occurrence (`__id`, 1-based start `p`,
    * 64-bit content hash `h`) — the raw explode shared by the
    * exact-substring family; duplicate detection happens in
    * [[duplicatedWindowOccurrences]].
    *
    * Shape at 100 TB: each token starts at most one window, so the
    * explode is LINEAR in corpus tokens (not tokens × n — the window
    * string is hashed inside the per-row transform and only the
    * 8-byte hash leaves the row, the [[gramHashArray]] argument); the
    * duplicate decision is one hash-aggregate shuffle on the window
    * hash with map-side combine, and the join back to occurrences is
    * a hash equi-join on the same key. A boilerplate window repeated
    * 10⁶ times is ONE count row — the join back fans it to its
    * occurrences, which is output-sized, not quadratic. Collision
    * contract = [[decontaminate]]'s: 64-bit hash equality stands in
    * for window equality (P(false duplicate window) ≈ pairs/2⁶⁴;
    * over-marks a span, never misses a real repeat). */
  private def windowOccurrences(docs: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame = {
    require(n >= 2, s"exact-substring window must be >= 2 tokens, got $n")
    // window starts 1..len-n+1; the native one-pass kernel
    // ([[graft.functions.WindowHashes]]) hashes each SPACE-REJOINED
    // window (xxhash64 seed 42 — the oracle's
    // array_to_string(l[i:i+n-1], ' ') is the same literal) — the
    // composable transform(sequence)+slice+array_join form evaluated
    // INTERPRETED and cost 375 s at the 64× octave vs 17.4 s native
    // (byte-identical outputs at both SFs)
    val winList = graft.functions.WindowHashes
      .windowHashesNative(col(textCol), n)
    docs
      .select(col(idCol).as("__id"), posexplode(winList))
      .select(col("__id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("h"))
  }

  /** Per-doc duplicated-window occurrences — the shared front of the
    * exact-substring family ([[exactSubstringSpans]] /
    * [[dedupExactSubstrings]]): every token position `p` (1-based)
    * starting an `n`-token window whose content occurs ≥ 2 times
    * corpus-wide (across docs OR within one doc — a self-repeat is a
    * repeat), keyed by the window's 64-bit content hash.
    * `canonical = true` additionally carries each duplicated window's
    * globally-first occurrence (c_id, c_p) — ONLY the cut variant
    * needs it; the spans report skips the min(struct) aggregate and
    * the two extra join-side columns. `minCount` raises the repeat
    * threshold (a window counts as duplicated when it occurs ≥
    * minCount times corpus-wide; 2 = any repeat, the Lee-et-al
    * default — higher values target heavy boilerplate only). */
  private def duplicatedWindowOccurrences(docs: DataFrame, n: Int,
      idCol: String, textCol: String,
      canonical: Boolean, minCount: Int = 2): DataFrame = {
    require(minCount >= 2,
      s"exact-substring repeat threshold must be >= 2, got $minCount")
    val wins = windowOccurrences(docs, n, idCol, textCol)
    val dup =
      if (canonical) wins.groupBy(col("h"))
        .agg(count(lit(1)).as("__c"),
          min(struct(col("__id"), col("p"))).as("__first"))
        .filter(col("__c") >= minCount)
        .select(col("h"), col("__first.__id").as("c_id"),
          col("__first.p").as("c_p"))
      else wins.groupBy(col("h"))
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") >= minCount)
        .select(col("h"))
    wins.join(dup, Seq("h"))
  }

  /** Exact-substring REPEAT SPANS — the suffix-array-granularity view
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499 §4.1): every maximal token span whose
    * text participates in an exact repeat of ≥ `n` tokens anywhere in
    * the corpus. A repeated substring of length L ≥ n covers its
    * tokens with duplicated n-windows at every offset, and any token
    * under a duplicated n-window sits inside a length-n repeat — so
    * the union of duplicated-window coverage is EXACTLY the token set
    * belonging to some ≥ n-token repeat, and merging overlapping
    * windows yields the maximal spans without materializing suffixes
    * (the suffix-array result, computed as hashed-window equi-joins —
    * no all-pairs stage anywhere).
    *
    * Returns (idCol, span_start, span_end, n_windows), token positions
    * 1-based inclusive, ordered within each doc by span_start. The
    * island merge is a per-doc window function — bounded by DOC length
    * (the [[dedupSpans]] rebuild discipline), never by corpus size;
    * window positions are per-doc sorted, and because all windows
    * share length `n`, coverage is contiguous iff consecutive starts
    * differ by ≤ n (the previous window's end is lag(p)+n-1).
    *
    * `minCount` raises the repeat threshold (≥ minCount occurrences
    * corpus-wide; default 2 = any repeat — higher values report only
    * HEAVY boilerplate, the dial that separates "shared license
    * header in 10⁵ docs" from "two docs quoting each other").
    *
    * Reference analog: none — the reference dedups whole events by
    * eventID (`sparktoELKstream.py:127`); this is the LLM-corpus
    * within-document generalization. */
  def exactSubstringSpans(docs: DataFrame, n: Int = 50,
      idCol: String = "doc_id", textCol: String = "text",
      minCount: Int = 2): DataFrame = {
    val occ = duplicatedWindowOccurrences(docs, n, idCol, textCol,
        canonical = false, minCount)
      .select(col("__id"), col("p"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("p"))
    // gaps-and-islands: a window extends the current span iff its
    // start is within the previous window's coverage + 1 (lag is NULL
    // on the first row → otherwise-branch → new island)
    val spans = occ
      .withColumn("__brk",
        when(col("p") - lag(col("p"), 1).over(byDoc) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(n - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
    spans.select(col("__id").as(idCol), col("span_start"),
      col("span_end"), col("n_windows"))
  }

  /** Exact-substring REPEAT STATISTICS per group — the Lee-et-al
    * paper's headline corpus measurement (what fraction of the corpus
    * is inside some ≥ n-token exact repeat), computed per `groupCol`:
    * (group, n_docs, docs_with_repeat, total_tokens, covered_tokens,
    * covered_frac). Coverage per doc = the summed lengths of
    * [[exactSubstringSpans]]' maximal spans (islands are disjoint, so
    * the sum IS the distinct covered-token count). Docs with NULL text
    * are excluded (they carry no tokens to measure).
    *
    * Shape: the spans pipeline (linear explode + hash-agg + equi-join
    * + per-doc island merge) plus one doc-keyed aggregate and one
    * group-keyed aggregate — both map-side combining; the group join
    * is a left join on the doc id, output is groups-scale. */
  def exactSubstringStats(docs: DataFrame, n: Int = 50,
      idCol: String = "doc_id", groupCol: String = "source",
      textCol: String = "text", minCount: Int = 2): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
    val perDoc = exactSubstringSpans(base, n, idCol, textCol, minCount)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start") + 1).as("__cov"))
    base
      .select(col(idCol), col(groupCol).as("__key"),
        size(tokens(col(textCol))).cast("long").as("__tok"))
      .join(perDoc, Seq(idCol), "left")
      .groupBy(col("__key"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("__cov")).as("docs_with_repeat"),
        sum(col("__tok")).as("total_tokens"),
        sum(coalesce(col("__cov"), lit(0L))).as("covered_tokens"))
      .select(col("__key").as(groupCol), col("n_docs"),
        col("docs_with_repeat"), col("total_tokens"),
        col("covered_tokens"),
        (col("covered_tokens").cast("double") /
          col("total_tokens").cast("double")).as("covered_frac"))
  }

  /** Exact-substring DEDUP — the cut that Lee et al. apply: every
    * duplicated `n`-token window keeps its globally FIRST occurrence
    * (min (doc, position) — the [[dedupSpans]] partial-aggregate
    * first-occurrence discipline, never a window sort over the hot
    * window's occurrence list) and every other occurrence's tokens
    * are removed; a token is cut iff covered by ≥ 1 non-canonical
    * duplicated window. Text is rebuilt from the surviving tokens in
    * position order (single-space joined — the [[dedupSpans]] rebuild
    * contract, including `""` for a fully-cut doc).
    *
    * Shape: [[duplicatedWindowOccurrences]]'s linear explode + one
    * hash-agg + equi-join, then coverage expansion (≤ n rows per CUT
    * occurrence — output-bounded), a distinct on (doc, position), one
    * anti-join against the token table, and the per-doc rebuild
    * aggregate (bounded by doc length). */
  def dedupExactSubstrings(docs: DataFrame, n: Int = 50,
      idCol: String = "doc_id", textCol: String = "text",
      minCount: Int = 2): DataFrame = {
    val cutPositions = duplicatedWindowOccurrences(docs, n, idCol,
        textCol, canonical = true, minCount)
      .filter(!(col("__id") === col("c_id") && col("p") === col("c_p")))
      .select(col("__id"),
        explode(sequence(col("p"), col("p") + lit(n - 1).cast("long")))
          .as("t"))
      .distinct()
    val toks = tokens(col(textCol))
    val tok = docs
      .select(col(idCol).as("__id"), posexplode(toks))
      .select(col("__id"), (col("pos") + 1).cast("long").as("t"),
        col("col").as("w"))
    val rebuilt = tok.join(cutPositions, Seq("__id", "t"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("t"), col("w")))),
        s => s("w")), " ").as("__clean"))
    docs.join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol),
        "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }
}
