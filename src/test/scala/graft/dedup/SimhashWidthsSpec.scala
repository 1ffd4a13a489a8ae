package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Dedup.simhash]] and [[Dedup.bandedHammingPairs]], the one SimHash
  * builder and the one banded-Hamming join for every signature width,
  * against the per-width forms they replaced, rebuilt here as the
  * reference: the single-modulus builder, the two- and four-half
  * builders, the one-column join and the fixed 4×32 two-column join.
  * Schemas and sorted rows must agree bit for bit on seeded inputs, and
  * the joins must return exactly the brute-force set of pairs within
  * `maxHam`.
  */
class SimhashWidthsSpec extends SparkSpec {

  import spark.implicits._

  // ---- the per-width forms, as reference ---------------------------------

  private object Reference {
    def simhash(wordIds: DataFrame, bits: Int): DataFrame = {
      require(bits <= 45, "word_id * a must stay below 2^63")
      val h = (col("word_id") * 40503L + 9973L) % (1L << bits)
      val perWord = wordIds.select(col("doc_id"), col("word_id")).distinct()
        .withColumn("h", h)
      val bitSums = (0 until bits).map { k =>
        sum(when(shiftright(col("h"), k) % 2 === 1, 1).otherwise(-1)).as(s"s_$k")
      }
      val sig = (0 until bits).map { k =>
        when(col(s"s_$k") > 0, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
      perWord.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
    }

    def simhash64(wordIds: DataFrame): DataFrame = {
      val perWord = wordIds.select(col("doc_id"), col("word_id")).distinct()
        .withColumn("h0", (col("word_id") * 40503L + 9973L) % (1L << 32))
        .withColumn("h1", (col("word_id") * 31973L + 7919L) % (1L << 32))
      val sums =
        (0 until 32).map { k =>
          sum(when(shiftright(col("h0"), k) % 2 === 1, 1).otherwise(-1)).as(s"s_$k")
        } ++ (0 until 32).map { k =>
          sum(when(shiftright(col("h1"), k) % 2 === 1, 1).otherwise(-1)).as(s"t_$k")
        }
      val lo = (0 until 32).map { k =>
        when(col(s"s_$k") > 0, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
      val hi = (0 until 32).map { k =>
        when(col(s"t_$k") > 0, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
      perWord.groupBy(col("doc_id"))
        .agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), shiftleft(hi, 32).bitwiseOR(lo).as("simhash"))
    }

    def simhash128(wordIds: DataFrame): DataFrame = {
      val coeffs = Seq((40503L, 9973L), (31973L, 7919L),
        (27673L, 6841L), (23911L, 5527L))
      val perWord = coeffs.zipWithIndex.foldLeft(
          wordIds.select(col("doc_id"), col("word_id")).distinct()) {
        case (df, ((a, b), j)) =>
          df.withColumn(s"h$j", (col("word_id") * a + b) % (1L << 32))
      }
      val sums = (0 until 4).flatMap { j =>
        (0 until 32).map { k =>
          sum(when(shiftright(col(s"h$j"), k) % 2 === 1, 1).otherwise(-1))
            .as(s"s_${j}_$k")
        }
      }
      def word(j: Int) = (0 until 32).map { k =>
        when(col(s"s_${j}_$k") > 0, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
      perWord.groupBy(col("doc_id"))
        .agg(sums.head, sums.tail: _*)
        .select(col("doc_id"),
          shiftleft(word(1), 32).bitwiseOR(word(0)).as("sim_lo"),
          shiftleft(word(3), 32).bitwiseOR(word(2)).as("sim_hi"))
    }

    def bandedHammingPairs(hashes: DataFrame, idCol: String, hashCol: String, bits: Int,
        maxHam: Int): DataFrame = {
      require(bits >= 1 && bits <= 64, "hash width must be 1..64 bits")
      require(maxHam >= 0 && maxHam + 1 <= bits,
        "need maxHam + 1 bands of >= 1 bit each")
      val nBands = maxHam + 1
      val bounds = (0 to nBands).map(b => b * bits / nBands)
      val bands = (0 until nBands).map { b =>
        val lo = bounds(b)
        val width = bounds(b + 1) - lo
        val mask = if (width >= 64) -1L else (1L << width) - 1
        struct(lit(b).as("band"),
          shiftright(col(hashCol), lo).bitwiseAND(lit(mask)).as("key"))
      }
      val keyed = hashes.select(col(idCol).as("__id"), col(hashCol).as("__h"),
          explode(array(bands: _*)).as("bk"))
        .select(col("__id"), col("__h"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      keyed.as("x")
        .join(keyed.as("y"), Seq("band", "key"))
        .filter(col("x.__id") < col("y.__id"))
        .select(col("x.__id").as("a"), col("y.__id").as("b"),
          bit_count(col("x.__h").bitwiseXOR(col("y.__h"))).as("hamming"))
        .filter(col("hamming") <= maxHam)
        .distinct()
    }

    def bandedHammingPairs128(hashes: DataFrame, idCol: String, loCol: String, hiCol: String,
        maxHam: Int): DataFrame = {
      require(maxHam == 3,
        "128-bit banding is fixed at 4 bands of 32 bits (pigeonhole radius 3)")
      val m32 = (1L << 32) - 1
      val bands = Seq(
        col("__lo").bitwiseAND(lit(m32)),
        shiftright(col("__lo"), 32).bitwiseAND(lit(m32)),
        col("__hi").bitwiseAND(lit(m32)),
        shiftright(col("__hi"), 32).bitwiseAND(lit(m32)))
      val keyed = hashes
        .select(col(idCol).as("__id"), col(loCol).as("__lo"), col(hiCol).as("__hi"))
        .select(col("__id"), col("__lo"), col("__hi"),
          explode(array(bands.zipWithIndex.map { case (k, b) =>
            struct(lit(b).as("band"), k.as("key"))
          }: _*)).as("bk"))
        .select(col("__id"), col("__lo"), col("__hi"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      keyed.as("x")
        .join(keyed.as("y"), Seq("band", "key"))
        .filter(col("x.__id") < col("y.__id"))
        .select(col("x.__id").as("a"), col("y.__id").as("b"),
          (bit_count(col("x.__lo").bitwiseXOR(col("y.__lo"))) +
            bit_count(col("x.__hi").bitwiseXOR(col("y.__hi")))).as("hamming"))
        .filter(col("hamming") <= maxHam)
        .distinct()
    }
  }

  // ---- seeded inputs ------------------------------------------------------

  /** 40 base documents over a vocabulary of 300 random words and, per
    * base, an exact copy and copies with 1 to 3 words replaced.
    */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(20261019L)
    val vocab = Seq.fill(300)(Seq.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
    def word() = vocab(rng.nextInt(vocab.size))
    val docs = (0 until 40).flatMap { i =>
      val base = Seq.fill(12 + rng.nextInt(20))(word())
      (0 to 4).map { v =>
        val text = (0 until math.max(0, v - 1)).foldLeft(base)((t, _) =>
          t.updated(rng.nextInt(t.size), word()))
        (i * 5L + v, text.mkString(" "))
      }
    }
    Dedup.docWordIds(docs.toDF("doc_id", "text"), "doc_id", "text")
  }

  /** Word ids, half of them with the sign bit set (`docWordIds` makes
    * none of those).
    */
  private lazy val negativeWords: DataFrame = {
    val rng = new scala.util.Random(7L)
    (0 until 400).map { i =>
      val w = rng.nextInt(Int.MaxValue).toLong
      (i % 20L, if (rng.nextBoolean()) -1L - w else w)
    }.toDF("doc_id", "word_id")
  }

  /** Seeded hashes of `cols` 64-bit words (about half with the sign bit
    * set) and, per base hash, copies flipped at 1 to `maxHam + 1` random
    * bits, at `maxHam` bits on the band starts past the first (a band
    * bound one bit too wide then touches every band), and at bit 63 of
    * every word.
    */
  private def plantedHashes(cols: Int, maxHam: Int, bandStarts: Seq[Int]): Seq[(Long, Seq[Long])] = {
    val rng = new scala.util.Random(cols * 100L + maxHam)
    def flip(h: Seq[Long], bits: Seq[Int]) = bits.foldLeft(h)((w, k) =>
      w.updated(k / 64, w(k / 64) ^ (1L << (k % 64))))
    val flips = (1 to maxHam + 1).map(d => rng.shuffle((0 until 64 * cols).toList).take(d))
    (0 until 40).flatMap { i =>
      val base = Seq.fill(cols)(rng.nextLong())
      val copies = Seq(Nil, bandStarts.tail.take(maxHam), (0 until cols).map(64 * _ + 63)) ++
        flips.map(f => rng.shuffle(f.map(k => (k + i) % (64 * cols))))
      copies.zipWithIndex.map { case (bits, v) => (i * 10L + v, flip(base, bits)) }
    }
  }

  private def hashFrame(rows: Seq[(Long, Seq[Long])], names: Seq[String]): DataFrame =
    names.zipWithIndex.foldLeft(rows.toDF("doc_id", "__ws")) {
      case (df, (n, c)) => df.withColumn(n, col("__ws")(c))
    }.drop("__ws")

  // ---- comparisons --------------------------------------------------------

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(rows(got) === rows(want))
  }

  /** Every pair of `hashes` within `maxHam`, as `a,b,hamming` rows. */
  private def bruteForce(hashes: DataFrame, maxHam: Int): Seq[String] = {
    val hs = hashes.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong))
    (for {
      (a, x) <- hs.toSeq; (b, y) <- hs.toSeq if a < b
      d = x.zip(y).map { case (u, v) => java.lang.Long.bitCount(u ^ v) }.sum if d <= maxHam
    } yield s"$a,$b,$d").sorted
  }

  private def signBitSet(sig: DataFrame, c: String): Boolean =
    sig.filter(col(c) < 0).limit(1).count() > 0

  // ---- the builder ---------------------------------------------------------

  for (bits <- Seq(1, 16, 31, 32)) {
    test(s"simhash at $bits bits equals the single-modulus form") {
      assertSame(Dedup.simhash(corpus, bits), Reference.simhash(corpus, bits))
      assertSame(Dedup.simhash(negativeWords, bits), Reference.simhash(negativeWords, bits))
    }
  }

  test("simhash at 64 bits equals the two-half form, sign-bit-set words included") {
    val got = Dedup.simhash(corpus, 64)
    assert(got.columns.toSeq === "doc_id" +: Dedup.simhashCols(64))
    assert(signBitSet(got, "simhash"))
    assertSame(got, Reference.simhash64(corpus))
    assertSame(Dedup.simhash(negativeWords, 64), Reference.simhash64(negativeWords))
  }

  test("simhash at 128 bits equals the four-half form, sign-bit-set words included") {
    val got = Dedup.simhash(corpus, 128)
    assert(got.columns.toSeq === "doc_id" +: Dedup.simhashCols(128))
    assert(signBitSet(got, "sim_lo") && signBitSet(got, "sim_hi"))
    assertSame(got, Reference.simhash128(corpus))
    assertSame(Dedup.simhash(negativeWords, 128), Reference.simhash128(negativeWords))
  }

  // ---- the join --------------------------------------------------------------

  test("bandedHammingPairs over two 64-bit columns at maxHam 3 equals the 4x32 join") {
    val planted = hashFrame(plantedHashes(2, 3, Seq(0, 32, 64, 96)), Seq("sim_lo", "sim_hi"))
    assert(bruteForce(planted, 3).exists(_.endsWith(",3")),
      "the input must hold pairs at exactly maxHam")
    for (sig <- Seq(Dedup.simhash(corpus, 128), planted)) {
      val got = Dedup.bandedHammingPairs(sig, "doc_id", Seq("sim_lo", "sim_hi"), 128, 3)
      val brute = bruteForce(sig, 3)
      assert(brute.nonEmpty)
      assert(rows(got) === brute)
      assertSame(got, Reference.bandedHammingPairs128(sig, "doc_id", "sim_lo", "sim_hi", 3))
    }
  }

  test("bandedHammingPairs over one 64-bit column at maxHam 4 (5 uneven bands)") {
    val planted = hashFrame(plantedHashes(1, 4, Seq(0, 12, 25, 38, 51)), Seq("ahash"))
    assert(signBitSet(planted, "ahash"))
    val got = Dedup.bandedHammingPairs(planted, "doc_id", Seq("ahash"), 64, 4)
    val brute = bruteForce(planted, 4)
    assert(brute.exists(_.endsWith(",4")), "the input must hold pairs at exactly maxHam")
    assert(rows(got) === brute)
    assertSame(got, Reference.bandedHammingPairs(planted, "doc_id", "ahash", 64, 4))
  }

  test("bandedHammingPairs over one column below 64 bits equals the one-column join") {
    for (bits <- Seq(16, 32)) {
      val sig = Dedup.simhash(corpus, bits)
      val got = Dedup.bandedHammingPairs(sig, "doc_id", Seq("simhash"), bits, 3)
      assert(rows(got) === bruteForce(sig, 3))
      assertSame(got, Reference.bandedHammingPairs(sig, "doc_id", "simhash", bits, 3))
    }
  }
}
