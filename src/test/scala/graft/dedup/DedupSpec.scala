package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** The window form of [[Dedup.shingles3FromText]]: the same 3-word
    * hash chain over `(doc_id, pos, word_id)` rows, via `lead`.
    */
  private def shingles3(wordIds: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wordIds
      .withColumn("w1", lead(col("word_id"), 1).over(w))
      .withColumn("w2", lead(col("word_id"), 2).over(w))
      .filter(col("w2").isNotNull)
      .withColumn("shingle",
        ((col("word_id") * Dedup.ShingleBase + col("w1")) % Dedup.MinhashP
          * Dedup.ShingleBase + col("w2")) % Dedup.MinhashP)
      .select(col("doc_id"), col("shingle")).distinct()
  }

  private val docs = Seq(
    (1L, "a b c d e", "s1"),
    (2L, "a b c d e", "s1"),     // exact dup of 1
    (3L, "a b c d e f", "s1"),   // near dup of 1 (high jaccard)
    (4L, "x y z w q", "s2")      // unrelated
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps min-id survivor with copy count") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (3L, 1L), (4L, 1L)))
    // hash-bucketed variant agrees
    val viaHash = Dedup.exactByHash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHash === got)
  }

  test("identical texts share the full minhash signature; disjoint texts do not") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val sig = Dedup.minhashSignature(shingles3(ids), 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(4L))
  }

  test("LSH candidates contain the exact-dup pair, not the disjoint pair") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val sig = Dedup.minhashSignature(shingles3(ids), 8)
    val pairs = Dedup.lshCandidates(Dedup.lshBandKeys(sig, 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash: identical texts equal; hamming(near-dup) < hamming(disjoint)") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val sh = Dedup.simhash(ids).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) <= hamming(sh(1L), sh(4L)))
  }

  test("array-side shingles equal the window-form shingles") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val viaWindow = shingles3(ids)
    val viaArray = Dedup.shingles3FromText(docs, "doc_id", "text")
    assert(viaWindow.exceptAll(viaArray).isEmpty && viaArray.exceptAll(viaWindow).isEmpty)
  }

  test("simhashNear: identical docs pair at hamming 0; banding finds them without all-pairs") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val near = Dedup.bandedHammingPairs(Dedup.simhash(ids, bits = 32), "doc_id",
        Dedup.simhashCols(32), bits = 32, maxHam = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(near((1L, 2L)) === 0) // exact dup: identical signature
  }

  test("simhash64: identical texts equal; halves compose as hi<<32|lo") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val sh = Dedup.simhash(ids, bits = 64).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) <= hamming(sh(1L), sh(4L)))
    // the low half must equal the 32-bit single-modulus simhash (same
    // word hash), proving the composition really is hi<<32|lo
    val sh32 = Dedup.simhash(ids, bits = 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.forall { case (id, v) => (v & 0xffffffffL) === sh32(id) })
  }

  test("simhash128: identical texts equal; low word equals the 32-bit simhash") {
    val ids = Dedup.docWordIds(docs, "doc_id", "text")
    val sh = Dedup.simhash(ids, bits = 128).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sh(1L) === sh(2L))
    // word 0 of sim_lo shares simhash(bits=32)'s hash coefficients —
    // proving the four-half composition packs (w1<<32|w0, w3<<32|w2)
    val sh32 = Dedup.simhash(ids, bits = 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.forall { case (id, (lo, _)) => (lo & 0xffffffffL) === sh32(id) })
  }

  test("bandedHammingPairs128: FULL recall at maxHam=3 vs brute-force Hamming") {
    // a corpus dense enough that near pairs exist at several radii:
    // rotations/substitutions of a base text plus unrelated docs
    val many = (0L until 40L).map { i =>
      val words = (0 until 12).map { j =>
        if ((i + j) % 7 == 0) s"w${(i * 3 + j) % 9}" else s"base$j"
      }
      (i, words.mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val sig = Dedup.simhash(Dedup.docWordIds(many, "doc_id", "text"), bits = 128)
    val rows = sig.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (a, alo, ahi) <- rows; (b, blo, bhi) <- rows if a < b
      h = java.lang.Long.bitCount(alo ^ blo) + java.lang.Long.bitCount(ahi ^ bhi)
      if h <= 3
    } yield ((a, b), h)).toMap
    assert(brute.nonEmpty, "fixture must produce near pairs")
    val banded = Dedup.bandedHammingPairs(sig, "doc_id", Dedup.simhashCols(128), 128, 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(banded === brute) // recall AND precision: exactly the <=3 set
  }

  test("connected components: chain A~B~C (A!~C) collapses to one survivor") {
    val pairs = Seq((10L, 20L), (20L, 30L), (50L, 40L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L, 50L -> 40L))
  }

  test("connected components: long chain converges via path shortcut") {
    // a 64-node path graph: diameter 63, must settle well inside maxRounds
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Dedup.connectedComponents(pairs, "a", "b", maxRounds = 12)
    val comp = labels.collect().map(r => r.getLong(1)).distinct
    assert(comp.toSeq === Seq(1L))
    // per-round checkpoint copies must be released as the loop advances
    // (Dataset.unpersist is a no-op on localCheckpoint storage — the fix
    // goes through the LogicalRDD leaf). Only the returned frame's own
    // checkpoint may remain.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size} checkpointed round frames")
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(labels)
  }

  test("applySurvivors: chain A~B~C keeps exactly one doc with n_removed audit") {
    val corpus = Seq(
      (10L, "ten"), (20L, "twenty"), (30L, "thirty"),
      (40L, "forty"), (50L, "fifty"), (99L, "unpaired")
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 20L), (20L, 30L), (50L, 40L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs, "a", "b")
    val kept = Dedup.applySurvivors(corpus, labels, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // chain 10~20~30 keeps 10 (n_removed 2); pair 40~50 keeps 40
    // (n_removed 1); unpaired 99 survives untouched (n_removed 0)
    assert(kept === Map(10L -> 2L, 40L -> 1L, 99L -> 0L))
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(labels)
  }

  test("mergeIncrementalLabels equals from-scratch CC over the pair union") {
    // old graph: {1,2,3} (label 1), {6,7} (label 6); old singletons 9, 12
    val oldPairs = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("a", "b")
    val oldLabels = Dedup.connectedComponents(oldPairs, "a", "b")
    // batch: 100 bridges components 1 and 6 (transitive merge);
    // 4 matches old singleton 9; 5 matches labeled member 3
    val newPairs = Seq((100L, 3L), (100L, 7L), (4L, 9L), (5L, 3L))
      .toDF("new_id", "old_id")
    val merged = Dedup.mergeIncrementalLabels(oldLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val union = oldPairs.unionByName(
      newPairs.select($"new_id".as("a"), $"old_id".as("b")))
    val scratch = Dedup.connectedComponents(union, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === scratch)
    // the bridge collapsed everything reachable to min id 1; the
    // singleton pair {4,9} got label 4 (new id is the min)
    assert(merged(100L) === 1L && merged(6L) === 1L && merged(9L) === 4L)
    // untouched old singleton 12 stays out of the label table entirely
    assert(!merged.contains(12L))
  }

  test("jaccard pairs: dup pair = 1.0, near pair = 5/6, cross-block pair absent") {
    // candidates: every same-source pair, as a blocking generator gives
    val cands = docs.as("x").join(docs.as("y"),
        $"x.source" === $"y.source" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"))
    val got = Dedup.jaccardVerify(cands, docs, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(math.abs(got((1L, 3L)) - 5.0 / 6.0) < 1e-15)
    assert(!got.contains((1L, 4L)))
  }

  test("incremental dedup: new batch pairs against the index only, never new x new") {
    // index: docs 1, 3, 4; new batch: doc 2 (dup of 1) and doc 5 (dup of 4)
    val all = docs.union(Seq((5L, "x y z w q", "s2")).toDF("doc_id", "text", "source"))
    val sig = Dedup.minhashSignature(
      Dedup.shingles3FromText(all, "doc_id", "text"), 8)
    val hits = Dedup.incrementalNearDup(
        sig.filter($"doc_id" isin (1L, 3L, 4L)),
        sig.filter($"doc_id" isin (2L, 5L)),
        numPerms = 8, minAgree = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // both exact dups found with full slot agreement...
    assert(Set((2L, 1L, 8L), (5L, 4L, 8L)).subsetOf(hits))
    // ...every hit pairs a new doc against an INDEX doc (no new x new,
    // so the new-batch dup pair (2,5)-vs-each-other never appears)
    assert(hits.forall { case (n, o, _) => Set(2L, 5L)(n) && !Set(2L, 5L)(o) })
  }

  test("prefix-filter jaccard join is COMPLETE vs brute force at several thetas") {
    // synthetic sets with controlled overlap: elements are longs, docs
    // share sliding ranges so pair similarities sweep 0..1
    val elems = (for {
      d <- 0L until 40L
      e <- 0L until 30L
    } yield (d, d * 7 + e)).toDF("doc_id", "shingle")
    def brute(num: Int, den: Int): Set[(Long, Long)] = {
      val sets = (0L until 40L).map(d => d -> (0L until 30L).map(d * 7 + _).toSet).toMap
      (for {
        a <- 0L until 40L; b <- (a + 1) until 40L
        ni = (sets(a) & sets(b)).size
        if ni * (num + den) >= num * (sets(a).size + sets(b).size)
      } yield (a, b)).toSet
    }
    for ((num, den) <- Seq((1, 2), (7, 10), (9, 10), (1, 4))) {
      val got = Dedup.prefixFilterJaccardPairs(elems, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(num, den), s"theta=$num/$den")
    }
    // partitioning-independence: reshuffled input, identical pairs
    val a = Dedup.prefixFilterJaccardPairs(elems.repartition(11), 7, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == brute(7, 10))
  }
}
