package graft

import org.apache.spark.sql.functions._

/** g16's recall guarantee is pigeonhole: 64 bits in 4 blocks; ≤3 flipped
  * bits cannot touch all 4 blocks, so every true near-dup pair shares at
  * least one exact block and survives the equi-join.
  */
class SimhashSpec extends SparkSpec {

  private def blocks(x: Long): Seq[Long] =
    Seq(x & 0xffffL, (x >>> 16) & 0xffffL, (x >>> 32) & 0xffffL, (x >>> 48) & 0xffffL)

  test("pairs within hamming distance 3 always share a 16-bit block") {
    val rnd = new scala.util.Random(42) // seeded: the test is deterministic
    for (_ <- 1 to 5000) {
      val sig = rnd.nextLong()
      val flips = Seq.fill(rnd.nextInt(4))(rnd.nextInt(64))
      val other = flips.foldLeft(sig)((s, b) => s ^ (1L << b))
      assert(blocks(sig).zip(blocks(other)).exists { case (a, b) => a == b },
        s"sig=$sig flips=$flips")
    }
  }

  test("g16 block join returns exactly the naive hamming-join pairs (sf0.001)") {
    val sig = GradedRuns.frame("g15_simhash")
      .select("doc_id", "sh_lo", "sh_hi")
    val a = sig.select(col("doc_id").as("doc_a"), col("sh_lo").as("lo_a"), col("sh_hi").as("hi_a"))
    val b = sig.select(col("doc_id").as("doc_b"), col("sh_lo").as("lo_b"), col("sh_hi").as("hi_b"))
    val naive = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)"))
      .where(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val blocked = GradedRuns.rows("g16_simhash_dedup")
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(blocked === naive)
  }

  test("simhash of identical docs is identical, near-identical docs are close") {
    val sig = GradedRuns.frame("g15_simhash")
    // signatures are a pure function of text: join docs with equal text
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text")
    val withSig = docs.join(sig, "doc_id")
    val sameText = withSig.as("x").join(withSig.as("y"),
        col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
      .where(col("x.sh_lo") =!= col("y.sh_lo") || col("x.sh_hi") =!= col("y.sh_hi"))
    assert(sameText.count() === 0)
  }
}
