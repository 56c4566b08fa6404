package graft.ops

import graft.functions.{ShingleHashes, SimHash64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the four standard flavours
  * of a pre-training dedup stage, each designed around the shuffle it
  * implies at 100 TB:
  *
  *   - exact: one hash-groupBy on a digest of the canonical text. One
  *     shuffle of (digest, id), never of the document bodies.
  *   - n-gram Jaccard: inverted-index self-join on shingles (explode →
  *     join on shingle → count) — the classic "similarity join without a
  *     cross join"; candidate generation is linear in posting-list sizes.
  *   - MinHash+LSH: k seeded linear-permutation min-hashes per shingle
  *     set (md5-derived base values — oracle-expressible), banded;
  *     candidates are pairs sharing a (band, band-signature) bucket. Only
  *     signatures shuffle; bodies never move.
  *   - SimHash: 64-bit fingerprint (custom codegen expression), banded
  *     into 4×16 bits; Hamming ≤ 3 pairs share ≥1 band by pigeonhole, so
  *     candidate generation is again an equi-join.
  */
object Dedup {

  /** Exact dedup (hash-groupBy): cluster by content digest, keep the
    * smallest doc_id as the survivor. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** Hashed postings (doc_id, h): one row per distinct word-3-gram
    * shingle hash, via the fused native [[ShingleHashes]] expression —
    * bit-identical to hashing the materialized shingle strings, without
    * building the token/shingle/distinct string arrays per document. */
  private def hashPostings(docs: DataFrame): DataFrame =
    // compute-dense scan consumer (Tables.parallelizeSmallScan): the
    // fused shingle-hash expression is the dominant per-row cost, and a
    // single-file corpus would otherwise evaluate it in one task
    Tables.parallelizeSmallScan(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(ShingleHashes(col("text"))).as("h"))

  /** Exact n-gram Jaccard near-dup join via the inverted index, pairs with
    * J(a,b) ≥ `threshold` over distinct 3-gram sets.
    *
    * Scale design: shingle *strings* never shuffle — each shingle is
    * xxhash64'd at the scan, so the self-join and the per-pair
    * intersection count move only (doc_id, hash) longs, and map-side
    * partial aggregation collapses pair rows before the shuffle. Set
    * sizes are attached *after* pair-counting via two joins of the
    * (doc_id, n) table rather than carried through the big join:
    * measured 5× faster, because a join residual over a column derived
    * from the expensive shingle expression forces that expression to be
    * re-evaluated per matched pair (25 s → 5 s at sf0.1; the effect
    * compounds at scale). The sizes joins carry NO broadcast hint: one
    * row per document is bounded only by corpus size, so a forced
    * broadcast is a driver OOM at 100 TB — AQE picks broadcast when the
    * post-aggregation table is actually small and a sort-merge join on
    * doc_id otherwise. 64-bit hashing makes the counts exact up to
    * ~2⁻³² collision odds per corpus; at stricter thresholds + larger
    * corpora, a PPJoin prefix filter over the same hashed postings is the
    * escalation path. */
  def ngramJaccard(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame = {
    // LAZY checkpoint (the BM25-postings pattern): `postings` feeds the
    // sizes aggregate and both self-join sides; the join sides share one
    // Exchange, but the sizes branch prunes differently and re-ran the
    // whole shingle pipeline. Materialized once, every consumer reads the
    // (doc_id, hash) table — 16 bytes/row against the text it distills.
    val postings = hashPostings(Tables.documents(s, d))
      .localCheckpoint(eager = false)
    val sizes = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs(postings, "doc_id", Seq("h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 3))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Prefix-filtered exact Jaccard join (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07) — the escalation path the plain inverted
    * index needs at stricter thresholds / larger corpora:
    *
    * order each document's shingle hashes by ascending global document
    * frequency (rarest first, ties by hash), keep only the PREFIX of
    * length |x| - ceil(t·|x|) + 1 in the candidate join. Two sets with
    * J ≥ t must share a prefix element: if all common elements sat in
    * A's suffix (ceil(t|A|)-1 elements), then |A∩B| ≤ ceil(t|A|)-1 <
    * ceil(t|A|) ≤ |A∩B| (since |A∩B| ≥ t|A| and is an integer) — a
    * contradiction. So candidate generation joins only the rare prefix
    * postings (at t=0.5 roughly half, at t=0.9 a tenth — and the rarest
    * half, so posting lists are short and skew-free); candidates are
    * then verified exactly on sorted hash arrays. Same result set as
    * [[ngramJaccard]], hash-matched against the same oracle. */
  def ngramJaccardPrefix(s: SparkSession, d: String,
      threshold: Double = 0.5): DataFrame = {
    val posts = hashPostings(Tables.documents(s, d))
    val docFreq = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // ONE per-doc aggregate carrying everything downstream: the sorted
    // full hash set (verification) and the rarity-ordered prefix
    // (candidate generation). All later references — both sides of the
    // candidate self-join, both sides of the verification join — sit
    // above this single Exchange, so the shingle pipeline runs once
    // (window-based rank formulations defeated that reuse: measured 20 s
    // vs 3 s at sf0.1).
    //
    // The prefix length uses a slackened threshold: the output predicate
    // is round(J, 3) >= t (oracle parity), which admits true J down to
    // t - 0.0005 — the prefix must be complete for THOSE pairs too, not
    // just J >= t, or a pair rounding up to the threshold could have
    // disjoint prefixes and be silently missed.
    val tSlack = threshold - 0.0005
    val base = posts.join(docFreq, "h")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("byRarity"),
        count(lit(1)).as("n"))
      .select(col("doc_id"),
        sort_array(transform(col("byRarity"), p => p("h"))).as("hsorted"),
        transform(
          slice(col("byRarity"), lit(1),
            (col("n") - ceil(lit(tSlack) * col("n")) + 1).cast("int")),
          p => p("h")).as("pref"))
      // LAZY checkpoint (the minhashDupPairs rationale): the prefix and
      // verification branches prune different columns, splitting the
      // subtree into differently-pruned aggregates that each re-run the
      // shingle+docFreq pipeline; materialized once, all three references
      // read the per-doc array table
      .localCheckpoint(eager = false)
    val prefix = base.select(col("doc_id"), explode(col("pref")).as("h"))
    val cands = pairs(prefix, "doc_id", Seq("h")).distinct()
    val arr = base.select(col("doc_id"), col("hsorted"))
    cands
      .join(arr.toDF("a_id", "hs_a"), "a_id")
      .join(arr.toDF("b_id", "hs_b"), "b_id")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 3))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Near-dup clustering: connected components over the exact-Jaccard
    * pair graph — the step that turns pairwise similarity into "keep one
    * survivor per duplicate cluster". Every document gets a `cluster_id`
    * = the smallest doc_id reachable through pairs with J ≥ threshold
    * (singletons cluster to themselves). The components come from
    * [[componentLabels]]; document bodies never enter it. */
  def nearDupClusters(s: SparkSession, d: String,
      threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccard(s, d, threshold).select(col("a_id"), col("b_id"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(componentLabels(s, pairs), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Connected-component labels over an undirected pair graph: returns
    * (doc_id, label) for every non-root node that appears in `pairs`,
    * label = the smallest reachable id. Roots and nodes absent from the
    * edge list are absent from the result (callers coalesce them to
    * themselves).
    *
    * A driver union-find over the collected pair list, in one job. The
    * pairs are near-dup hits, not the corpus, so the list fits the driver.
    *
    * Shared solver behind [[nearDupClusters]] (text near-dup graph) and
    * [[semanticClusters]] (embedding cosine graph). */
  private[ops] def componentLabels(s: SparkSession,
      pairs: DataFrame): DataFrame = {
    import s.implicits._
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    pairs.toDF("a_id", "b_id").as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toDF("doc_id", "label")
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): duplicate
    * clusters in EMBEDDING space — connected components over the exact
    * cosine ≥ `threshold` pair graph, every vector labeled with the
    * smallest reachable vec_id (the kept representative; singletons label
    * themselves). The component solver is the same one the text-Jaccard
    * clustering uses.
    *
    * The pair generator here is the exact all-pairs form — the
    * oracle-checkable semantics and the RECALL BASELINE, labeled the same
    * way [[embedCosinePairs]] is. The production scale path is
    * [[semanticClustersLsh]]: banded signature buckets generate the
    * candidates (no all-pairs cartesian), feeding the identical
    * verify-then-label tail; its recall is asserted against this form in
    * the specs and its identical-vector guarantee is oracle-pinned via
    * [[semanticDupClusters]]. */
  def semanticClusters(s: SparkSession, d: String,
      threshold: Double = 0.4): DataFrame = {
    val emb = Tables.embeddings(s, d)
    clustersFromPairs(s, emb, cosinePairs(emb)
      .filter(col("sim") >= threshold).select(col("a_id"), col("b_id")))
  }

  /** The exact all-pairs cosine frame `(a_id, b_id, sim)`: every
    * unordered vector pair once (`a_id < b_id`), `sim` the native
    * [[graft.functions.CosineSimilarity]] rounded to 4 decimals. The
    * STREAMED side of the nested-loop join is spread by
    * [[Tables.parallelizeSmallScan]]: the n² cosine evaluations fuse into
    * its stage, which is one task on a one-file corpus — measured 4.0 s
    * of 4.3 s single-threaded at sf0.1 on 32 cores. */
  private def cosinePairs(emb: DataFrame): DataFrame = {
    val a = Tables.parallelizeSmallScan(
      emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(graft.functions.CosineSimilarity(col("ea"), col("eb")), 4).as("sim"))
  }

  /** Shared verify-then-label tail: cosine-verified pairs → connected
    * components → every vector labeled (singletons to themselves). */
  private def clustersFromPairs(s: SparkSession, emb: DataFrame,
      pairs: DataFrame): DataFrame =
    emb.select(col("vec_id"))
      .join(componentLabels(s, pairs).toDF("vec_id", "label"),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .orderBy(col("vec_id"))

  /** The PRODUCTION SemDeDup path: candidate pairs from banded
    * random-hyperplane signature buckets (the same seeded sign signatures
    * [[Similarity.lshTopK]] buckets on, sliced into `bands` bands of
    * `bitsPerBand` bits, OR-amplified: a pair is a candidate if any band
    * matches), then the identical cosine-verify → component-label tail as
    * [[semanticClusters]]. Candidate generation is an equi-join on
    * (band, band_val) ints — the all-pairs cartesian never materializes,
    * and embeddings move only for candidate verification.
    *
    * Approximate by construction: a true pair whose signatures disagree
    * in every band is missed. Banding is tuned per threshold: at the
    * oracle threshold t=0.4 a pair at the threshold agrees per-bit with
    * p₁ = 1 - arccos(0.4)/π ≈ 0.63, so 48×4 banding (three 64-bit
    * signature words over disjoint plane families) misses a threshold
    * pair with probability (1-p₁⁴)⁴⁸ ≈ 2·10⁻⁴ (smaller above the
    * threshold) — the margin matters because the spec bar is on
    * same-CLUSTER pairs, where one missed bridge edge severs a whole
    * component's worth of pairs —
    * measured same-cluster pair recall vs the exact form on the driver
    * corpus is asserted ≥ 0.9 at sf0.001 and sf0.01 in the specs.
    * Identical vectors survive ANY banding (equal input ⇒ equal
    * signature ⇒ every band matches), which is what
    * [[semanticDupClusters]] pins under the DuckDB oracle. The verified
    * edge set is a subset of the exact one, so bucketed clusters always
    * refine exact clusters — precision 1 at the pair level (asserted in
    * the recall spec).
    *
    * Candidate-volume honesty: at t=0.4 over THIS corpus (random 64-dim
    * vectors, background cosine ≈ 0.12) the threshold-to-background
    * angular margin is thin — 48×4 bands still pass ≈ 98% of background
    * pairs, so at this regime the banding mainly bounds the join (no
    * all-pairs cartesian) rather than shrinking it; that is the LSH
    * no-free-lunch, not an implementation artifact. At the thresholds
    * production SemDeDup actually runs (duplicates at cosine ≥ 0.9 over
    * a near-orthogonal background), the SAME pipeline with 8×8 banding
    * passes only 1-(1-0.54⁸)⁸ ≈ 5% of background pairs while retaining
    * 1-(1-0.86⁸)⁸ ≈ 0.93 of true duplicate pairs (identical copies:
    * always) — that regime is what [[semanticDupClusters]] exercises. */
  def semanticClustersLsh(s: SparkSession, d: String, threshold: Double = 0.4,
      bands: Int = 48, bitsPerBand: Int = 4): DataFrame =
    // parallelize the signature source (Tables.parallelizeSmallScan): at
    // the 0.4-threshold regime the banding passes ~98% of background
    // pairs, so the candidate cosine verification fused into this scan's
    // stage is the dominant cost and ran in nWords tasks on a one-file
    // corpus (measured 1.74 s of a 2.7 s run in one 3-task stage at sf0.1
    // on 32 cores — the x_dedup_semantic disease). Applied HERE, not in
    // semanticClustersLshOf: the 8×8 pruning regime of
    // [[semanticDupClusters]] verifies ~5% of pairs, where the bounded
    // exchange costs more than it buys (interleaved A/B: 1.00 → 1.15 s).
    semanticClustersLshOf(s,
      Tables.parallelizeSmallScan(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))),
      threshold, bands, bitsPerBand)

  /** All-ones mask of the low `bits` bits, wrap-safe at 64: the naive
    * `(1L << bits) - 1` shifts mod 64 and collapses to 0 at bits = 64,
    * turning every band_val into 0 and the candidate self-join into
    * all-pairs per band; an unsigned right shift of all-ones never
    * wraps in [1, 64]. */
  private[ops] def bandMask(bits: Int): Long = {
    require(bits >= 1 && bits <= 64,
      s"band width must be in [1, 64] bits, got $bits")
    -1L >>> (64 - bits)
  }

  /** The `nBands` low `bits`-bit slices of the 64-bit `word`, as a
    * `posexplode` generator: one (band, band_val) row per slice, band 0
    * holding the lowest bits. */
  private[ops] def bitBands(word: Column, nBands: Int, bits: Int): Column = {
    val mask = bandMask(bits)
    posexplode(array((0 until nBands).map(b =>
      shiftrightunsigned(word, b * bits).bitwiseAND(lit(mask))): _*))
  }

  /** The candidate-pair kernel of the keyed dedup operators: the
    * self-join of `rows` on equality of every `keys` column, each
    * unordered pair once per matching row combination (`a.id < b.id`,
    * so no self pairs; a pair sharing m key rows — m bands — appears m
    * times; a null key never pairs). Output: `a_id`, `b_id` and
    * `a_<c>`/`b_<c>` per `carry` column. Callers keep their own
    * verify / distinct / aggregate tail. */
  private[ops] def pairs(rows: DataFrame, id: String, keys: Seq[String],
      carry: Seq[String] = Nil): DataFrame =
    rows.as("a").join(rows.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("a_id") +: col(s"b.$id").as("b_id") +:
        carry.flatMap(c =>
          Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c"))): _*)

  /** Planted exact copies in one scan, for the duplicate-guarantee
    * operators: every row of `rows` twice, as is and with `id` shifted
    * by `offset` — the rows of the frame unioned with its shifted copy,
    * in one pass over it. `id` comes first, the other columns keep their
    * order. A copy carries its original's content, so work that is a
    * pure function of the content (signatures, fingerprints, digests) is
    * best computed before this step: identical rows at half the work. */
  private[ops] def planted(rows: DataFrame, id: String,
      offset: Long): DataFrame =
    rows.select(rows.columns.toSeq.map(col) :+
        explode(array(lit(0L), lit(offset))).as("off"): _*)
      .select((col(id) + col("off")).as(id) +:
        rows.columns.toSeq.filter(_ != id).map(col): _*)

  private[ops] def semanticClustersLshOf(s: SparkSession, emb: DataFrame,
      threshold: Double, bands: Int, bitsPerBand: Int): DataFrame = {
    val vecs0 = emb.select(col("vec_id"), col("embedding"))
    bandMask(bitsPerBand) // validates the width before it divides 64
    // bands slice 64-bit signature words — only (vec_id, band, band_val)
    // enter the candidate self-join; embeddings stay out of the explode.
    // Bandings wider than one word (bands × bitsPerBand > 64) compose
    // additional words over DISJOINT seeded plane families (planeOffset),
    // one banded slice per word — never by shifting past bit 63, which
    // wraps mod 64 and would silently duplicate the low bands.
    val bandsPerWord = 64 / bitsPerBand
    val nWords = (bands + bandsPerWord - 1) / bandsPerWord
    val banded = (0 until nWords).map { w =>
      val first = w * bandsPerWord
      val cnt = math.min(bandsPerWord, bands - first)
      Similarity.signedEmbeddings(vecs0, cnt * bitsPerBand,
          planeOffset = first * bitsPerBand)
        .select(col("vec_id"), bitBands(col("sig"), cnt, bitsPerBand))
        .toDF("vec_id", "band", "band_val")
        .select(col("vec_id"), (col("band") + lit(first)).as("band"),
          col("band_val"))
    }.reduce(_ unionByName _)
    val cands = pairs(banded, "vec_id", Seq("band", "band_val"))
    val vecs = emb.select(col("vec_id"), col("embedding"))
    // verify BEFORE deduplicating: a pair matching in m bands is scored m
    // times (m ≤ bands, typically 1-2), but the threshold filter is far
    // more selective than band dedup, so distinct() runs on the surviving
    // edges instead of exchanging the full candidate stream — drops an
    // entire shuffle of |candidates| (long, long) rows for a bounded
    // amount of duplicate map-side cosine work
    val verified = cands
      .join(vecs.toDF("a_id", "ea"), "a_id")
      .join(vecs.toDF("b_id", "eb"), "b_id")
      .filter(round(graft.functions.CosineSimilarity(col("ea"), col("eb")), 4)
        >= threshold)
      .select(col("a_id"), col("b_id"))
      .distinct()
    clustersFromPairs(s, emb, verified)
  }

  /** SemDeDup *guarantee* under the DuckDB oracle, the [[minhashDupPairs]]
    * shape: identical embeddings have identical sign signatures, so every
    * band matches and a planted exact copy of each vector at
    * `vec_id + offset` is ALWAYS a candidate, verifies at cosine 1.0, and
    * clusters with its original. At `threshold` = 0.9 no non-identical
    * pair on this corpus verifies (max genuine pairwise cosine ≈ 0.5), so
    * the production bucketed pipeline must output exactly the
    * equal-embedding equivalence classes, labeled by their min vec_id —
    * SQL-expressible, derived from the data (equality join, transitive)
    * rather than hardcoded arithmetic. */
  def semanticDupClusters(s: SparkSession, d: String, threshold: Double = 0.9,
      offset: Long = 100000L): DataFrame = {
    val emb = planted(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", offset)
    // high-threshold regime → pruning banding (8×8): wide bands pass only
    // ~5% of background pairs; planted copies match every band regardless
    semanticClustersLshOf(s, emb, threshold, bands = 8, bitsPerBand = 8)
  }

  /** Modulus of the min-hash permutation family: 2³¹−1 (Mersenne prime).
    * Base shingle values and the `a·x + b` products stay under 2⁶² — no
    * overflow in 64-bit signed arithmetic on EITHER engine (Spark longs
    * wrap silently; DuckDB BIGINT errors; staying in range sidesteps
    * both). */
  private[graft] val MinhashP: Long = graft.functions.MinHashSig.P

  /** The k seeded linear permutations h_i(x) = (a_i·x + b_i) mod P —
    * the EXACT constants the native [[graft.functions.MinHashSig]]
    * expression evaluates, exposed so the DuckDB oracle can embed them
    * as literals and regrow the identical signature matrix (the
    * hyperplanes-as-literals technique). a_i ∈ [1, P−1] keeps every map
    * injective on Z_P. */
  private[graft] def minhashPerms(k: Int, seed: Long = 42L): Array[(Long, Long)] = {
    val flat = graft.functions.MinHashSig.perms(k, seed)
    Array.tabulate(k)(i => (flat(2 * i), flat(2 * i + 1)))
  }

  /** MinHash signatures via the fused native [[graft.functions.MinHashSig]]
    * expression: md5-derived shingle values (oracle-recomputable — DuckDB
    * has no xxhash64) through the k seeded permutations, all k minima in
    * one map-side pass per document. The composed explode→groupBy form
    * paid a full Exchange of the posting list just to reassemble
    * per-document rows; here nothing shuffles at all until banding. */
  private def minhashSignatures(s: SparkSession, d: String, k: Int): DataFrame =
    // compute-dense scan consumer (Tables.parallelizeSmallScan): k seeded
    // permutations over every shingle dominate; parallelize the scan
    Tables.parallelizeSmallScan(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), k).as("sig"))
      .filter(col("sig").isNotNull)

  /** Exact-duplicate detection in the production LSH shape, under the
    * DuckDB oracle: identical shingle sets ⇒ identical minhash
    * signatures (whatever the hash family), so signature equality is a
    * complete CANDIDATE filter for set equality — and, like every LSH
    * pipeline, candidates are then VERIFIED exactly. Verification is
    * required for correctness, not just hygiene: near-identical sets
    * (J = 1 - 1/|set|) collide on a full k-signature with probability
    * J^k — measured 8 such pairs at sf0.001 with k = 128 — so an
    * unverified signature join over-reports. With verification the
    * result is exactly the equal-shingle-set pairs: on this corpus the
    * planted (d, d+offset) copies, and SQL-expressible in general.
    * Only (doc_id, long) keys shuffle in the candidate join; the sorted
    * shingle-set arrays join only for the (few) candidates. */
  def minhashDupPairs(s: SparkSession, d: String, k: Int = 32,
      offset: Long = 100000L): DataFrame = {
    // ONE per-doc aggregate computes the k min-hashes AND the sorted
    // hash set: every downstream reference (both candidate-join sides,
    // both verification sides) sits above the same Exchange, so the
    // shingle pipeline runs once (separate signature/set subtrees
    // re-ran it per branch: 12 s vs 3 s at sf0.1). The aggregate runs
    // over the BASE corpus only and the copies are planted after it.
    val posts = hashPostings(Tables.documents(s, d))
    val mins = (0 until k).map(i => min(hash(col("h"), lit(i))).as(s"m$i"))
    val perDoc = posts.groupBy(col("doc_id"))
      .agg(mins.head, (mins.tail :+
        sort_array(collect_set(col("h"))).as("shset")): _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"), col("shset"))
      .withColumn("key", hash(col("sig")))
    val base = planted(perDoc, "doc_id", offset)
      // LAZY checkpoint (the minhashLsh sig pattern): the four downstream
      // references prune different column sets, so as plan subtrees they
      // split into TWO differently-pruned aggregates and the shingle
      // pipeline runs twice; materialized once, everything reads the
      // (doc_id, sig, shset, key) table — tiny beside the text it distills
      .localCheckpoint(eager = false)
    val sigOnly = base.select(col("doc_id"), col("sig"), col("key"))
    val cands = pairs(sigOnly, "doc_id", Seq("key"), Seq("sig"))
      .filter(col("a_sig") === col("b_sig"))
      .select(col("a_id"), col("b_id"))
    cands
      .join(base.select(col("doc_id").as("a_id"), col("shset").as("sh_a")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("shset").as("sh_b")), "b_id")
      .filter(col("sh_a") === col("sh_b"))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash+LSH candidate pairs, verified with the signature-estimated
    * Jaccard: `bands` bands × `rowsPerBand` rows; a pair is a candidate if
    * any band signature matches exactly. Band signatures join as
    * fixed-width packed-integer keys: each adjacent pair of band minima
    * (both < P = 2³¹−1) packs injectively into one BIGINT as
    * `hi·2³¹ + lo` (< 2⁶², overflow-free in both engines), so a 4-row
    * band is exactly two longs — band equality ≡ slice equality, and the
    * identical arithmetic in the DuckDB oracle makes the whole banded
    * candidate graph hash-checkable. (r9 used rendered CSV strings for
    * the same parity; ~40-byte varchar keys widened the banding-join
    * shuffle ~4× vs these 16 fixed bytes — VERDICT r9 item 1.) */
  def minhashLsh(s: SparkSession, d: String,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    val k = bands * rowsPerBand
    // localCheckpoint: sig appears three times in the plan (banding +
    // both verification sides), and as a pure map-side projection there
    // is no aggregate Exchange for ReuseExchange to deduplicate — without
    // it every reference would re-run the full shingle+signature pass
    // over the corpus. The materialized table is (doc_id, k longs), tiny
    // relative to the text it distills (BM25-postings pattern). LAZY
    // (eager = false): building this DataFrame must not run a Spark job —
    // the plan-shape sweep and the oracle dump construct every registered
    // query without executing it; the checkpoint materializes on first
    // action and is reused by all three references.
    val sig = minhashSignatures(s, d, k).localCheckpoint(eager = false)
    // band b as a struct of ceil(rowsPerBand/2) packed longs; an odd
    // trailing element packs against 0 (still injective: hi·2³¹ + lo)
    val packShift = 1L << 31
    def packedBand(b: Int): Column = struct(
      (0 until rowsPerBand by 2).map { r =>
        val hi = element_at(col("sig"), b * rowsPerBand + r + 1)
        val lo = if (r + 1 < rowsPerBand)
          element_at(col("sig"), b * rowsPerBand + r + 2) else lit(0L)
        (hi * packShift + lo).as(s"k${r / 2}")
      }: _*)
    val banded = sig.select(col("doc_id"), posexplode(array(
      (0 until bands).map(packedBand): _*)))
      .toDF("doc_id", "band", "band_key")
    val cands = pairs(banded, "doc_id", Seq("band", "band_key")).distinct()
    val withSigs = cands
      .join(sig.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sig", "sig_a"), "a_id")
      .join(sig.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sig", "sig_b"), "b_id")
    withSigs
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)).cast("double") / k, 3))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** SimHash *guarantee* under the DuckDB oracle, same shape as
    * [[minhashDupPairs]]: identical text ⇒ identical 64-bit fingerprint,
    * so fingerprint equality is a complete candidate filter for text
    * equality on a corpus with planted exact copies — verified by digest
    * (near-identical token multisets CAN share a SimHash, so unverified
    * fp-equality over-reports, exactly like the minhash case). Result =
    * the equal-text pairs: on this corpus the (d, d+offset) copies. */
  def simhashDupPairs(s: SparkSession, d: String,
      offset: Long = 100000L): DataFrame = {
    // fingerprint + digest once per base document, then the copies: the
    // SimHash/md5 work is the expensive part of this query
    val fp = planted(Tables.parallelizeSmallScan(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        SimHash64(col("text")).as("fp"), md5(col("text")).as("digest")),
      "doc_id", offset)
    pairs(fp, "doc_id", Seq("fp"), Seq("digest"))
      .filter(col("a_digest") === col("b_digest"))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding-cosine near-dup: the exact all-pairs baseline, returning
    * the `topN` most-similar embedding pairs (the corpus has no planted
    * vector near-dups, so a fixed threshold would be degenerate — ranking
    * keeps the operator meaningful and deterministic). The pair generator
    * is a broadcast nested-loop join of the (small) vector table against
    * itself scored by the native [[graft.functions.CosineSimilarity]];
    * at 100 TB the candidate set comes from the LSH signature buckets of
    * [[Similarity.lshTopK]] instead of all pairs — this exact form is the
    * recall oracle for that path. */
  def embedCosinePairs(s: SparkSession, d: String, topN: Int = 20): DataFrame =
    cosinePairs(Tables.embeddings(s, d))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(topN)

  /** THE corpus text fingerprint — one definition for the in-memory
    * prior-side derivation, the stored-index writer, and the probe side
    * ([[incrementalDedupOf]]): a salted or normalized variant edited in
    * one site but not the others would equality-join probe hashes
    * against stale index hashes and silently miss every duplicate (the
    * exact verify only prevents FALSE pairs, not false negatives). */
  private def textFp = xxhash64(col("text"))

  /** Incremental-ingestion exact dedup: match a NEW batch against the
    * PRIOR corpus without joining the prior corpus per batch. The prior
    * side is distilled into a Bloom filter over xxhash64(text)
    * fingerprints (distributed treeAggregate build — the same
    * `BloomFilterMightContain` machinery Spark's runtime row filtering
    * uses, evaluated as a codegen'd predicate against a plan literal);
    * only the ~fpp fraction of new rows that might match ever reach the
    * verification join, which compares full text for exactness. False
    * positives cost efficiency, never correctness.
    *
    * 100 TB posture: the bloom is sized by `expectedItems` — fed from
    * table statistics in a real deployment (an undersized filter
    * saturates and silently degrades to a pass-through, so size it) —
    * and shipped once per batch (~1.2 bytes/item at 3% fpp); for prior
    * corpora whose filter outgrows a broadcast, range-partition the
    * fingerprint space. Document TEXT never shuffles: the candidate
    * join exchanges only (fingerprint, id) longs, and the exact-text
    * verification re-reads bodies just for the candidate ids (an
    * AQE-broadcastable set: true dups + the fpp fraction).
    *
    * The new batch is synthesized deterministically (the driver tables
    * have no cross-batch stream): every 3rd doc re-arrives verbatim
    * (`doc_id + offset`), the rest re-arrive modified (` v2` suffix, a
    * token outside the corpus vocabulary). The match set is every
    * (new, prior) pair with equal text — the verbatim re-arrivals PLUS
    * cross-pairs through pre-existing duplicate texts in the prior
    * corpus (sf0.1 has such groups) — and is SQL-expressible. */
  def incrementalDedup(s: SparkSession, d: String,
      offset: Long = 200000L, fpp: Double = 0.03,
      expectedItems: Long = 1L << 20): DataFrame = {
    import graft.functions.BloomSupport
    val docs = Tables.documents(s, d)
    val priorFp = docs.select(col("doc_id"), textFp.as("fp"))
    val bytes = BloomSupport.toBytes(
      priorFp.stat.bloomFilter("fp", expectedItems, fpp))
    incrementalDedupOf(s, d, priorFp, bytes, offset)
  }

  /** Shared probe tail of the in-memory and stored-index incremental
    * dedup: synthesize the new batch, bloom-prefilter it, candidate-join
    * fingerprints, exact-verify texts. `priorFp` and `bloomBytes` are
    * whatever the caller has — freshly computed or read from the at-rest
    * index — so the two paths cannot drift. The exact verify fetches
    * prior TEXT for candidate ids only (AQE broadcasts the candidate set
    * when small): a fingerprint collision costs one comparison, never a
    * wrong pair. */
  private def incrementalDedupOf(s: SparkSession, d: String,
      priorFp: DataFrame, bloomBytes: Array[Byte],
      offset: Long): DataFrame = {
    import graft.functions.BloomSupport
    val docs = Tables.documents(s, d)
    val prior = docs.select(col("doc_id"), col("text"))
    val newBatch = docs.select((col("doc_id") + offset).as("new_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" v2"))).as("text"))
    // candidate generation: only (fp, id) longs cross the wire
    val candidates = newBatch
      .filter(BloomSupport.mightContain(bloomBytes, textFp))
      .select(col("new_id"), textFp.as("fp"))
      .join(priorFp.select(col("doc_id"), col("fp")), Seq("fp"))
      .select(col("new_id"), col("doc_id"))
    candidates
      .join(newBatch, Seq("new_id"))
      .join(prior.withColumnRenamed("text", "prior_text"), Seq("doc_id"))
      .filter(col("text") === col("prior_text"))
      .select(col("new_id"), col("doc_id").as("prior_id"))
      .orderBy(col("new_id"), col("prior_id"))
  }

  /** Incremental-dedup index AT REST — the ingestion-time asymmetry: the
    * prior corpus is hashed ONCE into a (fingerprint, doc_id) index plus
    * its trained bloom filter, and every arriving batch probes the index
    * — 100 TB of prior text is never re-read, let alone re-hashed, per
    * batch; only candidate ids' bodies are fetched for the exact verify.
    * A batch's probe keys are hash-uniform, so the probe reads the whole
    * index and the fingerprints are stored as plain parquet, with no
    * partition column for a probe to prune on — the index is 16
    * bytes/doc against the corpus's full text, which is the scale win.
    * The bloom bytes ride along as a 1-row table, so probes need no
    * out-of-band state. */
  def writeIncrIndex(s: SparkSession, d: String, outDir: String,
      fpp: Double = 0.03, expectedItems: Long = 1L << 20): Unit = {
    import s.implicits._
    import graft.functions.BloomSupport
    Tables.documents(s, d).select(col("doc_id"), textFp.as("fp"))
      .write.mode("overwrite").parquet(s"$outDir/fp")
    // train the bloom from the index JUST WRITTEN, not from a re-derived
    // text plan: the corpus is scanned+hashed exactly once (the "hashed
    // ONCE" contract above), and the filter can never diverge from the
    // stored fingerprints (a bloom trained on a re-read of a corpus
    // rewritten between the two jobs would drop true duplicates)
    val bytes = BloomSupport.toBytes(
      readFpIndex(s, outDir).stat.bloomFilter("fp", expectedItems, fpp))
    Seq(Tuple1(bytes)).toDF("bloom")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/bloom")
  }

  /** Explicit-schema read of the stored fingerprint index: an index over
    * an empty corpus has no data files, and schema inference over it
    * would throw where the in-memory twin returns empty. */
  private def readFpIndex(s: SparkSession, outDir: String): DataFrame =
    s.read.schema(FpIndexSchema).parquet(s"$outDir/fp")
  /** Layout contracts of `fp/` and `bloom/`: the probe reads with them,
    * so no footer-read job infers a schema. */
  private[ops] val FpIndexSchema = "doc_id BIGINT, fp BIGINT"
  private[ops] val BloomSchema = "bloom BINARY"

  /** The at-rest incremental-dedup pipeline as ONE driver-checkable
    * query: write the fingerprint+bloom index (cached per JVM via
    * [[StoredIndex.cached]]), then probe the synthesized new batch
    * against it. Output is identical to [[incrementalDedup]] by the
    * shared probe tail, so the same hash-checked oracle pins the
    * write→probe path end to end. */
  def incrDedupStoredQuery(s: SparkSession, d: String,
      offset: Long = 200000L): DataFrame = {
    val out = StoredIndex.cached("dedupincr", d, s"$d/documents.parquet")(
      writeIncrIndex(s, d, _))
    val bytes = s.read.schema(BloomSchema).parquet(s"$out/bloom")
      .head().getAs[Array[Byte]](0)
    incrementalDedupOf(s, d, readFpIndex(s, out), bytes, offset)
  }

  /** SimHash near-dup pairs: fingerprint (custom expression) → 4×16-bit
    * band join → exact Hamming ≤ maxHamming filter via `bit_count(xor)`. */
  def simhash(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    val fp = Tables.parallelizeSmallScan(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), SimHash64(col("text")).as("fp"))
    val banded = fp.select(col("doc_id"), col("fp"), bitBands(col("fp"), 4, 16))
      .toDF("doc_id", "fp", "band", "band_val")
    pairs(banded, "doc_id", Seq("band", "band_val"), Seq("fp"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("a_id"), col("b_id"))
  }
}
