package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q105: the WWW'07 pigeonhole, demonstrated — the 4x16-bit band join
  * must find EXACTLY the pairs a brute-force all-pairs Hamming scan
  * over the same 64-bit signatures finds (no lost pair = the
  * pigeonhole's perfect recall for distance <= 3; no extra pair = the
  * exact bit_count verify works), plus signature-shape invariants. */
class SimhashJoinSpec extends AnyFunSuite with LocalSparkSuite {

  // the exact signature frame the operator joins on — via the same
  // builder, so the spec holds whether the memo is enabled (checkpoint
  // reuse) or disabled (SPARK_GRAFT_MEMO=false rebuilds it here)
  private def signatures = graft.ops.TextOps.simhashSignaturesAt(spark, sfDir, 4)

  test("band join = brute-force all-pairs Hamming scan over the signatures") {
    val sig = signatures
    val ham = (0 until 4).map(b =>
      bit_count(col(s"a$b").bitwiseXOR(col(s"c$b")))).reduce(_ + _)
    val brute = sig.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
      .crossJoin(sig.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = graft.ops.TextOps.simhashJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === brute)
  }

  private def bruteAt(k: Int): Set[(Long, Long, Long)] = {
    val nBands = k + 1
    val sig = graft.ops.TextOps.simhashSignaturesAt(spark, sfDir, nBands)
    val ham = (0 until nBands).map(b =>
      bit_count(col(s"a$b").bitwiseXOR(col(s"c$b")))).reduce(_ + _)
    sig.select(col("doc_id").as("doc_a") +:
        (0 until nBands).map(b => col(s"b$b").as(s"a$b")): _*)
      .crossJoin(sig.select(col("doc_id").as("doc_b") +:
        (0 until nBands).map(b => col(s"b$b").as(s"c$b")): _*))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= k)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("parametric band join = brute force at k=5 (6 bands of 11/10 bits)") {
    val banded = graft.ops.TextOps.simhashJoinAt(spark, sfDir, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === bruteAt(5))
    // a looser bound must admit at least the k=3 pairs, with the same
    // distances (the 64-bit signature is layout-independent)
    val k3 = graft.ops.TextOps.simhashJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(k3.subsetOf(banded))
  }

  test("every nBands layout encodes the same 64-bit signature (bit-exact reconstruction)") {
    // rebuild the full signature by shifting each band to its global
    // offset — layouts must agree bit for bit (collected as BigInt:
    // bit 63 would overflow a signed Long shift-sum in ANSI mode)
    def full(nBands: Int): Map[Long, BigInt] = {
      val offsets = graft.ops.TextOps.simhashWidths(nBands).scanLeft(0)(_ + _)
      graft.ops.TextOps.simhashSignaturesAt(spark, sfDir, nBands)
        .collect().map { r =>
          val sig = (0 until nBands).map(b =>
            BigInt(r.getLong(b + 1)) << offsets(b)).reduce(_ | _)
          r.getLong(0) -> sig
        }.toMap
    }
    assert(full(4) === full(6))
  }

  test("signatures: one row per distinct text, bands inside 16 bits") {
    val sig = signatures
    val reps = Tables.documents(spark, sfDir)
      .select(col("text")).distinct().count()
    assert(sig.count() === reps)
    val bad = sig.filter((0 until 4).map(b =>
      col(s"b$b") < 0 || col(s"b$b") > 65535).reduce(_ || _)).count()
    assert(bad === 0)
  }

  test("identical texts produce identical signatures (and never join themselves)") {
    val out = graft.ops.TextOps.simhashJoin(spark, sfDir)
    // the exact-dedup precondition keeps one rep per text, so no
    // result pair may have hamming coming from two copies of the same
    // text (those never appear as separate rows)
    val texts = Tables.documents(spark, sfDir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    out.collect().foreach { r =>
      assert(texts.contains(r.getLong(0)) && texts.contains(r.getLong(1)))
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 3)
    }
  }

  test("q159 operating point ties out against the two graded pair sets") {
    val cand = graft.ops.TextOps.simhashJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.ops.TextOps.jaccardJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = graft.ops.TextOps.simhashOperatingPoint(spark, sfDir).head
    assert(row.getLong(0) === cand.size.toLong)
    assert(row.getLong(1) === exact.size.toLong)
    assert(row.getLong(2) === (cand & exact).size.toLong)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(3) === r6(row.getLong(2).toDouble / cand.size))
    assert(row.getDouble(4) === r6(row.getLong(2).toDouble / exact.size))
    // the families disagree somewhere on this corpus - the reason the
    // comparison row exists (hamming<=3 is tighter than J>=1/2 here)
    assert(cand != exact)
  }
}
