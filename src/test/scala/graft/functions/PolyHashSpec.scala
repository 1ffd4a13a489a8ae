package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  /** The reference form: a higher-order `aggregate` fold over the
    * string's characters, `acc = (acc*131 + codepoint) mod p`.
    */
  private def polyHashFold(s: Column): Column =
    aggregate(
      split(s, ""),
      lit(0L),
      (acc, ch) => (acc * lit(131L) + ascii(ch)) % lit(Scalars.polyHashP))

  test("native polyHash == HOF fold on random strings (incl. unicode), and via SQL") {
    val rnd = new scala.util.Random(7)
    // ascii + latin-1 + CJK + astral plane (surrogate pairs: 𝄞, 😀) —
    // codePointAt in the native expr must agree with split+ascii's
    // per-codepoint fold beyond the BMP too
    val alphabet = "abcXYZ 0189_.,-éü的是" + "𝄞😀"
    val cps = alphabet.codePoints().toArray
    val strs = (1 to 300).map { _ =>
      (1 to rnd.nextInt(24))
        .map(_ => new String(Character.toChars(cps(rnd.nextInt(cps.length)))))
        .mkString
    } :+ "" :+ "a" :+ "😀" // lone emoji
    val df = strs.toDF("s").cache()
    val both = df.select(
      Scalars.polyHash(col("s")).as("native"),
      polyHashFold(col("s")).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).count() === 0)
    // SQL registration
    df.createOrReplaceTempView("phs")
    val viaSql = spark.sql("SELECT graft_polyhash(s) AS h FROM phs")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = df.select(Scalars.polyHash(col("s"))).collect().map(_.getLong(0)).toSeq
    assert(viaSql === viaCol)
  }
}
