package graft

import org.apache.spark.sql.functions._
import graft.ops.VectorOps

/** Declared contract for the hot-label capped vector variants (l6c/l7e)
  * and the skew bound that motivates them: a label holding half the corpus
  * must not make the "exact" pair operators quadratic. */
class VectorSkewSpec extends SparkSpec {

  /** Fixture embeddings with an adversarial label distribution: one label
    * ("hot") holds 50% of all vectors, the rest spread over 7 labels. */
  private def skewed = graft.core.Tables.embeddings(spark, sfDir)
    .withColumn("label",
      when(col("vec_id") % 2 === 0, lit("hot"))
        .otherwise(concat(lit("l"), col("vec_id") % 13)))

  test("hot label holding 50% of vectors sub-blocks to bounded candidate volume") {
    val cap = 32L
    val blocks = VectorOps.subBlockedByLabel(skewed, cap)
      .groupBy(col("label"), col("cell")).count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val hot = blocks.filter(_._1 == "hot")
    assert(hot.length > 1, s"hot label was not split: ${hot.toSeq}")
    // expected cell size is <= cap; allow slack for hyperplane non-uniformity
    val maxCell = hot.map(_._3).max
    info(s"hot cells: ${hot.length}, max cell $maxCell (cap $cap)")
    assert(maxCell <= 3 * cap, s"cell of $maxCell vectors blew past the $cap cap")
    // candidate volume Σ n_i² must be far below the unsplit n_hot²
    val nHot = hot.map(_._3).sum
    val vol = hot.map(c => c._3 * c._3).sum
    assert(vol <= nHot * nHot / 4,
      s"candidate volume $vol not bounded vs unsplit ${nHot * nHot}")
    // labels whose TOTAL is at or under the cap keep the single exact block
    val totals = blocks.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cold = blocks.filter(b => totals(b._1) <= cap)
    assert(cold.nonEmpty && cold.forall(_._2 == -1),
      s"sub-cap label lost its exact single-block semantics: ${cold.filter(_._2 != -1).toSeq}")
  }

  test("l6c capped pairs are a subset of exact l6 pairs with identical scores") {
    // cap=48 splits the fixture's 63-vector label, so routing IS engaged
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ida"), col("idb"), col("cos")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(VectorOps.l6CosinePairs(spark, sfDir))
    val capped = pairSet(VectorOps.l6cCosinePairsCapped(spark, sfDir))
    assert(capped.nonEmpty)
    assert(capped.subsetOf(exact),
      s"capped emitted pairs outside the exact set: ${(capped -- exact).take(3)}")
    info(f"l6c retention: ${capped.size}/${exact.size}")
    // only the one over-cap label may lose pairs; most survive
    assert(capped.size.toDouble / exact.size >= 0.5,
      s"capped kept only ${capped.size}/${exact.size} pairs")
  }

  test("l7e capped kNN: top-1 recall floor vs brute force") {
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.where(col("rk") === 1).select(col("ida"), col("idb")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def top3(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ida"), col("idb")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = VectorOps.l7KnnBruteForce(spark, sfDir)
    val bruteTop3 = top3(brute)
    val cappedTop1 = top1(VectorOps.l7eKnnBruteCapped(spark, sfDir))
    // a capped top neighbor that lands anywhere in the exact top-3 counts —
    // same contract shape as l7b/l7c/l7d
    val hits = cappedTop1.count(bruteTop3)
    val recall = hits.toDouble / cappedTop1.size
    info(f"l7e top-1-in-exact-top-3 recall: $recall%.2f ($hits/${cappedTop1.size})")
    assert(recall >= 0.8, f"l7e recall $recall%.2f below floor")
  }
}
