package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.text.TextFunctions

/** Deduplication operators for the training-data pipeline extension:
  * exact (hash-groupBy), MinHash + LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale design: every stage is a shuffle on a bounded key (text hash,
  * (band, key), (source, word)) with map-side partial aggregation; no
  * driver-side state, no O(n^2) anywhere except *within* an LSH bucket —
  * which is the point of LSH.
  *
  * Determinism: all hashes are explicit integer arithmetic (no engine
  * hash functions), so the DuckDB oracle reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per identical text + group size.
    * At 100 TB: group on a 64-bit text hash first, compare full text only
    * within colliding groups; with 2^64 space the collision re-check is a
    * no-op shuffle on tiny groups. Here texts are small; we group on the
    * text directly (the hash variant is `exactByHash`).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))
      .select(col("survivor_id"), col("n_copies"))

  /** Scale form: pre-bucket by cheap fingerprint, exact-compare within. */
  def exactByHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("__fp"), col(textCol))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))
      .select(col("survivor_id"), col("n_copies"))

  // ---- hash-based word ids ---------------------------------------------

  val MinhashP: Long = 2147483647L // 2^31 - 1, prime

  /** Word id by explicit polynomial hash reduced mod p — a pure
    * projection: no vocabulary frame, no global window, no join. At
    * 100 TB the id assignment is embarrassingly parallel (the round-1
    * dense-id vocab funneled every distinct word through a single
    * unpartitioned `row_number` window task). The fold is plain integer
    * arithmetic, so the DuckDB oracle reproduces ids bit-for-bit.
    */
  def wordId(word: Column): Column =
    graft.functions.Scalars.polyHash(word) % MinhashP

  /** (id, pos, word_id) triples per document, in token order. */
  def docWordIds(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"), wordId(col("word")).as("word_id"))

  // ---- MinHash + LSH ----------------------------------------------------

  /** Deterministic per-permutation coefficients (all < MinhashP; products
    * stay < 2^63 given shingle ids are reduced mod p first).
    */
  def hashCoeffs(numPerms: Int): Seq[(Long, Long)] =
    (1 to numPerms).map(k => (1000003L * k + 12345L, 777767L * k + 13L))

  /** Base for chaining word hashes into a 3-shingle hash (prime < p). */
  val ShingleBase: Long = 1000003L

  /** 3-word shingle ids: hash chain ((w0*B + w1) % p * B + w2) % p over
    * the per-word hashes. B and p are fixed constants, so products stay
    * < 2^31 * 2^20 < 2^52 — no overflow, and no corpus-dependent state
    * (the round-1 form multiplied by the vocabulary size, which required
    * a driver-side count of the global vocab).
    *
    * Computed array-side per document: tokenize, hash each token, and
    * chain consecutive triples with `transform` over an index sequence —
    * all narrow operations, so the only shuffle is the final distinct (a
    * `lead` window over the exploded words pays an extra sort+shuffle;
    * DedupSpec keeps that form and pins identical values).
    */
  def shingles3FromText(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wid = transform(TextFunctions.tokens(col(textCol)), w => wordId(w))
    val n = size(col("__wid"))
    def at(i: Column) = element_at(col("__wid"), i)
    val sh = when(n >= 3,
      transform(sequence(lit(1), n - 2), i =>
        ((at(i) * ShingleBase + at(i + 1)) % MinhashP * ShingleBase + at(i + 2))
          % MinhashP))
      .otherwise(array().cast("array<bigint>"))
    docs.select(col(idCol).as("doc_id"), wid.as("__wid"))
      .select(col("doc_id"), explode(sh).as("shingle"))
      .distinct()
  }

  /** MinHash signature: for each permutation k, min over shingles of
    * (a_k * s + b_k) mod p. One groupBy(doc) with map-side partial mins —
    * a single cheap shuffle at any scale.
    */
  def minhashSignature(
      shingleDf: DataFrame,
      numPerms: Int,
      withCount: Boolean = false): DataFrame = {
    val aggs = hashCoeffs(numPerms).zipWithIndex.map { case ((a, b), k) =>
      min((col("shingle") * a + b) % MinhashP).as(s"mh_$k")
    } ++ (if (withCount) Seq(count(lit(1)).as("n_sh")) else Nil)
    // withCount rides the same groupBy: callers needing per-doc shingle
    // counts (Jaccard denominators) get them without a second shuffle
    shingleDf.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys: bands of 2 signature slots packed into one long.
    * Docs sharing any band key are near-dup candidates.
    */
  def lshBandKeys(sig: DataFrame, numPerms: Int): DataFrame = {
    val bands = (0 until numPerms / 2).map { b =>
      struct(lit(b).as("band"),
        (col(s"mh_${2 * b}") * MinhashP + col(s"mh_${2 * b + 1}")).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs: equi-join on (band, key), each unordered pair once.
    * The join is a plain shuffle hash join on the band key — the whole
    * point of LSH banding at 100 TB (no all-pairs comparison).
    */
  def lshCandidates(bandKeys: DataFrame): DataFrame =
    bandKeys.as("x")
      .join(bandKeys.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** Incremental near-dup: NEW docs against the EXISTING corpus
    * signature index — the continuous-ingest shape at 100 TB. The banded
    * index is the table a production pipeline persists and appends once
    * per ingest batch; each batch joins its bands against index bands
    * only (new x index — never new x new inside this call, never a
    * re-dedup of the whole corpus). Verification is the standard MinHash
    * Jaccard estimate: the count of agreeing signature slots, kept at
    * `>= minAgree` of `numPerms`. Returns (new_id, old_id, n_agree).
    */
  def incrementalNearDup(
      indexSig: DataFrame,
      newSig: DataFrame,
      numPerms: Int,
      minAgree: Int): DataFrame = {
    val cands = lshBandKeys(newSig, numPerms).as("n")
      .join(lshBandKeys(indexSig, numPerms).as("o"), Seq("band", "key"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    def renamed(sig: DataFrame, idAs: String, pre: String) =
      sig.toDF(sig.columns.map(c =>
        if (c == "doc_id") idAs else s"$pre$c"): _*)
    val agree = (0 until numPerms)
      .map(k => when(col(s"n_mh_$k") === col(s"o_mh_$k"), 1).otherwise(0))
      .reduce(_ + _)
    cands
      .join(renamed(newSig, "new_id", "n_"), Seq("new_id"))
      .join(renamed(indexSig, "old_id", "o_"), Seq("old_id"))
      .select(col("new_id"), col("old_id"), agree.cast("long").as("n_agree"))
      .filter(col("n_agree") >= minAgree)
  }

  // ---- SimHash ----------------------------------------------------------

  /** The affine word hashes of the SimHash halves: half `j` hashes a word
    * to `(word_id * a_j + b_j) mod 2^32`. Word ids are below 2^31, so
    * every product stays below 2^63.
    */
  private val SimhashCoeffs = Seq((40503L, 9973L), (31973L, 7919L),
    (27673L, 6841L), (23911L, 5527L))

  /** The 64-bit columns a `bits`-wide [[simhash]] packs its bits into,
    * low bits first: `simhash` up to 64 bits, `(sim_lo, sim_hi)` above.
    */
  def simhashCols(bits: Int): Seq[String] =
    if (bits <= 64) Seq("simhash") else Seq("sim_lo", "sim_hi")

  /** SimHash over the document's distinct words, `bits` wide (1..128):
    * bit `k` is the vote of bit `k mod 32` of half `k / 32`'s word hash
    * (+1 per word that sets it, -1 per word that does not), set iff the
    * sum is positive. One groupBy(doc) of `bits` sums; bit `k` lands at
    * bit `k mod 64` of column `k / 64` of [[simhashCols]]. Up to 32 bits
    * this is the single-modulus form `(a·w + b) mod 2^bits`, whose low
    * bits are those of the mod-2^32 residue.
    *
    * Width is the scale lever of [[bandedHammingPairs]]: `maxHam + 1`
    * bands key on `bits / (maxHam + 1)` bits each, so expected candidate
    * pairs grow as ~N²·(maxHam + 1)/2^(bits/(maxHam + 1)) — at 128 bits
    * and maxHam 3, 32-bit band keys keep candidates at the base near-dup
    * rate out to ~10^10 docs, where 64 bits' 16-bit keys cannot.
    */
  def simhash(wordIds: DataFrame, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 32 * SimhashCoeffs.size,
      s"simhash width must be 1..${32 * SimhashCoeffs.size} bits")
    val perWord = SimhashCoeffs.take((bits + 31) / 32).zipWithIndex.foldLeft(
        wordIds.select(col("doc_id"), col("word_id")).distinct()) {
      case (df, ((a, b), j)) => df.withColumn(s"h$j", (col("word_id") * a + b) % (1L << 32))
    }
    val sums = (0 until bits).map { k =>
      sum(when(shiftright(col(s"h${k / 32}"), k % 32) % 2 === 1, 1).otherwise(-1)).as(s"s_$k")
    }
    val words = simhashCols(bits).zipWithIndex.map { case (name, w) =>
      (64 * w until math.min(bits, 64 * w + 64)).map { k =>
        when(col(s"s_$k") > 0, lit(1L << (k % 64))).otherwise(0L)
      }.reduce(_ + _).as(name)
    }
    perWord.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id") +: words: _*)
  }

  /** All (a, b) id pairs whose `bits`-wide hashes are within Hamming
    * distance `maxHam`, with FULL recall. The hash lies in the 64-bit
    * `hashCols`, low bits first, `bits / hashCols.size` bits each; every
    * column carries an equal share of `maxHam + 1` bands, band `b` of `n`
    * at bits `[b·w/n, (b+1)·w/n)` of its `w`-bit column. By pigeonhole a
    * pair differing in <= maxHam bits shares at least one untouched band,
    * so an equi-join on (band, band bits), the summed popcount of the
    * words' XORs as exact verification, then distinct find them all.
    * Never all-pairs: the join shuffles on the band value only. Band
    * extraction masks after the arithmetic shift (never mods), so
    * sign-bit-set words band correctly. Shared by the SimHash near-dup
    * queries and [[graft.multimodal.Multimodal.phashNearDup]].
    */
  def bandedHammingPairs(
      hashes: DataFrame,
      idCol: String,
      hashCols: Seq[String],
      bits: Int,
      maxHam: Int): DataFrame = {
    val width = bits / hashCols.size
    val nBands = (maxHam + 1) / hashCols.size
    require(width >= 1 && width <= 64 && width * hashCols.size == bits,
      "hash width must split into 1..64 bits per column")
    require(maxHam >= 0 && nBands * hashCols.size == maxHam + 1 && nBands <= width,
      "need maxHam + 1 bands, as many of >= 1 bit each in every column")
    val bounds = (0 to nBands).map(b => b * width / nBands)
    val bands = for ((h, c) <- hashCols.zipWithIndex; b <- 0 until nBands) yield {
      val lo = bounds(b)
      val w = bounds(b + 1) - lo
      val mask = if (w >= 64) -1L else (1L << w) - 1
      struct(lit(c * nBands + b).as("band"),
        shiftright(col(h), lo).bitwiseAND(lit(mask)).as("key"))
    }
    val hs = hashCols.indices.map(c => s"__h$c")
    val keyed = hashes.select(col(idCol).as("__id") +:
        hashCols.zip(hs).map { case (h, a) => col(h).as(a) } :+
        explode(array(bands: _*)).as("bk"): _*)
      .select(col("__id") +: hs.map(col) :+
        col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
    val hamming = hs.map(h => bit_count(col(s"x.$h").bitwiseXOR(col(s"y.$h")))).reduce(_ + _)
    keyed.as("x")
      .join(keyed.as("y"), Seq("band", "key"))
      .filter(col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  // ---- connected components (survivor selection) -----------------------

  /** Connected components over an undirected pair graph by iterative
    * hash-min label propagation with path shortcutting: each round every
    * node takes `min(own label, neighbors' labels, label-of-label)`.
    * Returns `(node, label)` where `label` is the component's minimum
    * node id — the canonical dedup survivor.
    *
    * Scale shape: each round is two equi-joins + one groupBy, all
    * shuffle-partitioned on node id — no driver-side graph, no
    * assumptions on component count. The label-of-label shortcut makes
    * convergence O(log diameter) rounds instead of O(diameter), so even
    * pathological near-dup chains (each doc similar only to its
    * neighbor) settle in a handful of rounds. The rounds run in
    * [[graft.operators.Graph.iterate]], whose stop test is a scalar
    * changed-count per round; `maxRounds` bounds the worst case.
    * 2^maxRounds with the shortcut covers any diameter that could arise
    * in practice (20 rounds ~ diameter 2^20); exhausting the bound
    * without converging logs a warning and returns the partial labels.
    *
    * Lifecycle contract: the returned frame is `localCheckpoint`ed (its
    * rows live in executor storage, not lineage). A caller that is done
    * with it should release it via
    * `ColumnBridge.unpersistCheckpoint(labels)` — otherwise the final
    * label frame stays resident until context cleanup.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 20): DataFrame = {
    val edges = Graph.adjacency(pairs, aCol, bCol).cache()
    // seed labels with min(node, min neighbor) — one groupBy over edges,
    // no join, and exactly what round 1 of plain propagation would
    // produce: shallow graphs (isolated pairs/triangles, the typical
    // near-dup shape) start converged and pay a single confirm round
    val init = edges.groupBy(col("u"))
      .agg(min(col("v")).as("__mn"))
      .select(col("u").as("node"), least(col("u"), col("__mn")).as("label"))
    // carry the pre-step label (__old) through the round so convergence
    // detection is a filter over the already-checkpointed frame — not
    // another labels-vs-labels join per round
    var converged = false
    def unchanged(next: DataFrame): Boolean = {
      converged = next.filter(col("label") =!= col("__old")).count() == 0L
      converged
    }
    val labels = Graph.iterate(init, maxRounds, unchanged) { (labels, _) =>
      val base = labels.select(col("node"), col("label"))
      val nbr = edges
        .join(base.select(col("node").as("v"), col("label").as("vl")), Seq("v"))
        .groupBy(col("u").as("node")).agg(min(col("vl")).as("nl"))
      val stepped = base.join(nbr, Seq("node"), "left")
        .select(col("node"), col("label").as("__old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // path shortcut: also take the label of my label-node this round
      stepped
        .join(stepped.select(col("node").as("label"), col("label").as("__ll")),
          Seq("label"), "left")
        .select(col("node"), col("__old"),
          least(col("label"), coalesce(col("__ll"), col("label"))).as("label"))
    }
    edges.unpersist(false)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents did not converge in $maxRounds rounds; " +
          "labels may be non-canonical for components of diameter > 2^rounds")
    labels.select(col("node"), col("label")) // drop the round-local __old
  }

  /** Apply component `labels` (`(node, label)` rows from
    * [[connectedComponents]]) to the corpus: keep each cluster's survivor
    * (the member whose id equals the label) plus every unpaired document,
    * and attach a per-survivor `n_removed` audit column (cluster size
    * minus one). This is the dedup stage's actual deliverable — the
    * deduplicated corpus — where the label table only names it (the
    * reference likewise materializes its filtered output rather than a
    * keep-list, process_af3_outputs.py:338-345).
    *
    * Scale shape: `labels` holds only paired documents — typically a
    * small fraction of the corpus — so the removal-count groupBy is
    * cheap, the membership join is a skinny-side join, and the second
    * join attaches counts to survivors only. The full corpus is
    * shuffled once (on `idCol`); both skinny joins ride that
    * partitioning (or broadcast under AQE when small enough).
    */
  def applySurvivors(docs: DataFrame, labels: DataFrame, idCol: String): DataFrame = {
    val removed = labels.groupBy(col("label").as(idCol))
      .agg((count(lit(1)) - lit(1L)).as("__nrm"))
    docs
      .join(labels.select(col("node").as(idCol), col("label")), Seq(idCol), "left")
      .filter(col("label").isNull || col("label") === col(idCol))
      .drop("label")
      .join(removed, Seq(idCol), "left")
      .withColumn("n_removed", coalesce(col("__nrm"), lit(0L)))
      .drop("__nrm")
  }

  /** Merge an ingest batch's `(new_id, old_id)` near-dup pairs (from
    * [[incrementalNearDup]]) into persisted component `labels` WITHOUT
    * re-running connected components over the full corpus — the one
    * periodic full re-dedup the incremental path exists to avoid.
    *
    * Each old endpoint is first contracted to its component label
    * (old nodes absent from `labels` are singletons), then components
    * run over the CONTRACTED graph only — its size is bounded by the
    * batch's pair count, not the corpus. Old labels bridged by new
    * nodes (possibly transitively: X bridges L1–L2, Y bridges L2–L3)
    * merge there; the resulting remap is applied to the label table
    * with one join. The output equals a from-scratch CC over the union
    * of old and new pairs: an old label is its component's min node,
    * contraction preserves those mins, and the small CC takes the min
    * across merged components and new ids — the global min.
    *
    * Returns the updated `(node, label)` table: old rows (relabeled
    * where touched) plus one row per new node seen in `newPairs`.
    */
  def mergeIncrementalLabels(
      labels: DataFrame,
      newPairs: DataFrame,
      newCol: String = "new_id",
      oldCol: String = "old_id",
      maxRounds: Int = 20): DataFrame = {
    val lab = labels.select(col("node"), col("label"))
    val contracted = newPairs
      .select(col(newCol).as("__nid"), col(oldCol).as("node"))
      .join(lab, Seq("node"), "left")
      .select(col("__nid").as("a"), coalesce(col("label"), col("node")).as("b"))
    val comp = connectedComponents(contracted, "a", "b", maxRounds)
    // remap touched old labels; untouched rows pass through unchanged
    val remap = comp.select(col("node").as("label"), col("label").as("__new"))
    val updatedOld = lab.join(remap, Seq("label"), "left")
      .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
    val newLabels = newPairs.select(col(newCol).as("node")).distinct()
      .join(comp, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    // old singletons first paired BY this batch: they appear in the
    // contracted graph as their own label but have no row in `labels`,
    // so neither updatedOld nor newLabels covers them — emit their comp
    // rows directly (anti-joins are against the batch-bounded frames)
    val pairedSingletons = comp
      .join(newLabels.select(col("node")), Seq("node"), "left_anti")
      .join(lab.select(col("node")), Seq("node"), "left_anti")
    // NOTE: the result references `comp`'s checkpointed storage (same
    // caller-must-unpersist contract as connectedComponents itself —
    // release via ColumnBridge.unpersistCheckpoint once consumed).
    updatedOld.unionByName(newLabels).unionByName(pairedSingletons)
  }

  // ---- n-gram / unigram Jaccard ----------------------------------------

  /** Per-doc sorted distinct word-id set as one compact long array —
    * sorted ONCE at build time so every downstream pair intersection is
    * a zero-alloc two-pointer merge (SortedIntersectSizeExpr).
    */
  def docWordSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.text.TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(wordId(col("word")))).as("words"))
      .withColumn("n_words", size(col("words")))

  /** Exact unigram-Jaccard verification over an existing candidate pair
    * frame `(a, b)`: the pair space is whatever the candidate generator
    * produced — at scale the banded-MinHash index, whose bucket
    * populations stay at the base density as the corpus grows. Blocking
    * on a BOUNDED-cardinality column (source, language) instead makes
    * the pair space Σ n_block², i.e. quadratic in corpus size — measured
    * 27× wall at 10× rows before this re-base (SCALE.md round-5).
    */
  def jaccardVerify(
      cands: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double): DataFrame = {
    val sets = docWordSets(docs, idCol, textCol)
    cands.select(col("a"), col("b"))
      .join(sets.select(col("doc_id").as("a"),
        col("words").as("wa"), col("n_words").as("na")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"),
        col("words").as("wb"), col("n_words").as("nb")), Seq("b"))
      .withColumn("n_inter",
        graft.functions.VectorExpressions.sortedIntersectSize(
          col("wa"), col("wb")).cast("int"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** COMPLETE exact-Jaccard set-similarity join by prefix filtering
    * (PPJoin family — Chaudhuri/Ganti/Kaushik ICDE'06 prefix filter,
    * Xiao/Wang/Lin/Yu WWW'08): every pair with
    * J(a, b) >= thetaNum/thetaDen is returned, with NO all-pairs
    * comparison and no LSH false-negative risk — the lossless
    * alternative to banded MinHash when the threshold is high and
    * recall must be 1.0.
    *
    * How: order each item's elements by GLOBAL rarity (document
    * frequency asc, id asc — any total order is correct; rarity
    * minimizes candidates). If J(x, y) >= θ then the overlap o
    * satisfies o >= ceil(θ·|x|) and o >= ceil(θ·|y|), so the FIRST
    * common element sits within the first |x| − ceil(θ|x|) + 1
    * elements of x AND the first |y| − ceil(θ|y|) + 1 of y — both
    * prefixes contain it, and the prefix-on-prefix equi-join finds the
    * pair. Prefix elements are the RAREST, so candidate volume tracks
    * sum(prefix-df²), a tiny fraction of the full inverted index.
    *
    * All gates are integer-exact: prefix length uses
    * ceil(n·num/den) = (n·num + den − 1) div den, and the final
    * threshold J >= num/den cross-multiplies to
    * ni·(num + den) >= num·(na + nb) — no float thresholds anywhere.
    *
    * Plan shape: one df aggregation + one per-item window (partitioned
    * by item — parallelism is item count) + one equi-join on rare
    * elements + the verify join. Every stage is a shuffle on a real
    * key; nothing is quadratic in corpus size.
    *
    * Input: distinct (doc_id, shingle) rows, e.g. [[shingles3FromText]].
    * Output: (a, b, ni, na, nb) for every qualifying pair — integer
    * columns only, so cross-engine comparison is hash-exact.
    */
  def prefixFilterJaccardPairs(
      elems: DataFrame,
      thetaNum: Int,
      thetaDen: Int): DataFrame = {
    require(thetaNum > 0 && thetaDen >= thetaNum,
      s"theta must be in (0,1]: $thetaNum/$thetaDen")
    val uw = elems.select(col("doc_id"), col("shingle"))
    // one shuffle builds both the verification arrays (sorted once here
    // so the per-pair intersection is the zero-alloc two-pointer native
    // expression, as in jaccardPairs) and the set sizes
    val sets = uw.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("__sh"),
        count(lit(1)).as("n"))
    val dfreq = uw.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefixes = uw
      .join(dfreq, Seq("shingle"))
      .join(sets.select(col("doc_id"), col("n")), Seq("doc_id"))
      .withColumn("__r", row_number().over(byRarity))
      .filter(col("__r") <=
        col("n") - expr(s"(n * $thetaNum + ${thetaDen - 1}) div $thetaDen") + 1)
      .select(col("doc_id"), col("shingle"))
    val cands = prefixes.as("x")
      .join(prefixes.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("a"), col("__sh").as("__sha"),
        col("n").as("na")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("__sh").as("__shb"),
        col("n").as("nb")), Seq("b"))
      .withColumn("ni",
        graft.functions.VectorExpressions.sortedIntersectSize(
          col("__sha"), col("__shb")).cast("long"))
      .filter(col("ni") * (thetaNum + thetaDen) >=
        lit(thetaNum) * (col("na") + col("nb")))
      .select(col("a"), col("b"), col("ni"), col("na"), col("nb"))
  }
}
