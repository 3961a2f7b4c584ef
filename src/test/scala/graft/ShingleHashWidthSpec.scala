package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.TextOps

/** The shingle join-key width flag (VERDICT r17 #4): the documented
  * "widen to 128-bit at 100 TB" swap must be a parameter of the l5-family
  * registry transforms, not a rewrite. Width is a pure re-keying — absent
  * collisions (none at fixture scale for either width) every result is
  * IDENTICAL, because all these operators consume only hash equality. */
class ShingleHashWidthSpec extends SparkSpec {

  private def docs = Tables.documentsWide(spark, sfDir)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toIndexedSeq
  }

  test("shingleKey: 64-bit is a long, 128-bit is a 16-byte binary, others rejected") {
    val d = docs.select(col("doc_id"),
      TextOps.shingleKey(col("text"), 64).as("h64"),
      TextOps.shingleKey(col("text"), 128).as("h128"))
    assert(d.schema("h64").dataType == org.apache.spark.sql.types.LongType)
    assert(d.schema("h128").dataType == org.apache.spark.sql.types.BinaryType)
    assert(d.select(max(length(col("h128")))).head.getInt(0) == 16)
    intercept[IllegalArgumentException] { TextOps.shingleKey(col("text"), 96) }
  }

  test("decontaminate: the 128-bit path matches the 64-bit path row-for-row") {
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val eval = docs.where(col("doc_id") % 20 === 0)
    val w64 = TextOps.decontaminateFrames(train, eval, n = 3)
    val w128 = TextOps.decontaminateFrames(train, eval, n = 3, hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }

  test("containment dedup: the 128-bit path keeps exactly the 64-bit survivors") {
    val w64 = TextOps.containmentDedupFrames(docs, n = 3, tau = 0.6)
      .select(col("doc_id"))
    val w128 = TextOps.containmentDedupFrames(docs, n = 3, tau = 0.6, hashBits = 128)
      .select(col("doc_id"))
    assert(sortedRows(w64) == sortedRows(w128))
  }

  test("novelty: the 128-bit path scores every doc identically") {
    val w64 = TextOps.noveltyFrames(docs, n = 3)
    val w128 = TextOps.noveltyFrames(docs, n = 3, hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
  }

  test("registry transforms accept hash_bits=128") {
    val reg = graft.pipeline.Transforms.standard()
    val out = reg.resolve("novelty")(spark, Map("docs" -> docs),
      graft.pipeline.ParamMap(Map("n" -> "3", "hash_bits" -> "128")))
    assert(out.count() == docs.count())
  }

  test("decontaminate: broadcast_eval=false (the unbounded-eval shuffle posture) is row-identical") {
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val eval = docs.where(col("doc_id") % 20 === 0)
    val b = TextOps.decontaminateFrames(train, eval, n = 3)
    val s = TextOps.decontaminateFrames(train, eval, n = 3,
      hashBits = 64, broadcastEval = false)
    assert(sortedRows(b) == sortedRows(s))
    val reg = graft.pipeline.Transforms.standard()
    val viaReg = reg.resolve("decontaminate")(spark,
      Map("train" -> train, "eval" -> eval),
      graft.pipeline.ParamMap(Map("broadcast_eval" -> "false")))
    assert(sortedRows(b) == sortedRows(viaReg))
  }

  // VERDICT r18 #3: the remaining shingle-keyed transforms carry the same
  // flag — each pair below must be row-identical (width is a pure
  // re-keying; both operators consume only hash equality/ordering).

  test("shingleKey: both widths agree on NULL input (shared non-null key)") {
    // ADVICE r18: xxhash64(null) = seed 42 but md5(null) = NULL — the
    // coalesce inside shingleKey must give both widths the same grouping
    // and join behavior on a degenerate null shingle.
    val d = docs.select(lit(null).cast("string").as("s")).limit(3)
    val k64 = d.select(TextOps.shingleKey(col("s"), 64).as("k"))
    val k128 = d.select(TextOps.shingleKey(col("s"), 128).as("k"))
    assert(k64.where(col("k").isNull).count() == 0)
    assert(k128.where(col("k").isNull).count() == 0)
    assert(k64.distinct().count() == 1 && k128.distinct().count() == 1)
    // ADVICE r19: the null-shingle key must NOT alias the empty-string
    // shingle that an empty/whitespace doc genuinely produces via
    // shingles()'s short-doc fallback — null-text and empty-text docs are
    // distinct degenerate classes and must not share a join/group key.
    val e = docs.select(lit("").as("s")).limit(1)
    assert(k64.distinct().join(
      e.select(TextOps.shingleKey(col("s"), 64).as("k")), Seq("k")).count() == 0)
    assert(k128.distinct().join(
      e.select(TextOps.shingleKey(col("s"), 128).as("k")), Seq("k")).count() == 0)
  }

  test("l5 pair generation: 128-bit path emits the identical pair set") {
    val w64 = TextOps.l5JaccardPairs(spark, sfDir)
    val w128 = TextOps.jaccardPairsFrames(
      Tables.documentsWide(spark, sfDir), hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }

  test("l45 prefix join: 128-bit index + binary verification arrays match") {
    val w64 = TextOps.l45PrefixJoinBits(64)(spark, sfDir)
    val w128 = TextOps.l45PrefixJoinBits(128)(spark, sfDir)
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }

  test("l34 source overlap: 128-bit path emits identical overlap counts") {
    val w64 = TextOps.sourceOverlapFrames(docs)
    val w128 = TextOps.sourceOverlapFrames(docs, hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }

  test("l20 substring windows: 128-bit window keys give identical span stats") {
    val w64 = TextOps.substringDupFrames(docs)
    val w128 = TextOps.substringDupFrames(docs, hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }

  test("l33 edit dedup: 128-bit candidate blocking proposes identical pairs") {
    val w64 = TextOps.editDedupFrames(docs)
    val w128 = TextOps.editDedupFrames(docs, hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
  }

  test("dedup_groups: 128-bit path yields identical components (registry param)") {
    val reg = graft.pipeline.Transforms.standard()
    val w64 = TextOps.dedupGroupsFrames(docs.select(col("doc_id"), col("text")))
    val w128 = reg.resolve("dedup_groups")(spark,
      Map("docs" -> docs.select(col("doc_id"), col("text"))),
      graft.pipeline.ParamMap(Map("hash_bits" -> "128")))
    assert(sortedRows(w64) == sortedRows(w128))
  }

  test("l21 LM score: 128-bit gram count keys give identical scores") {
    val w64 = TextOps.lmScoreFrames(docs)
    val w128 = TextOps.lmScoreFrames(docs, hashBits = 128)
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }

  test("dsir: 128-bit gram keys give identical weights (registry param)") {
    val reg = graft.pipeline.Transforms.standard()
    val src = docs.where(col("doc_id") % 20 =!= 0)
    val tgt = docs.where(col("doc_id") % 20 === 0)
    val w64 = TextOps.dsirFrames(src, tgt)
    val w128 = reg.resolve("dsir")(spark, Map("source" -> src, "target" -> tgt),
      graft.pipeline.ParamMap(Map("hash_bits" -> "128")))
    assert(sortedRows(w64) == sortedRows(w128))
    assert(w64.count() > 0)
  }
}
