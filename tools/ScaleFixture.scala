// Synthesize a COPIES× scale fixture from an existing sf dir by id-offset
// replication — the sf1 rehearsal input (VERDICT r9 #7). Run via:
//   sbt 'set Compile/unmanagedSourceDirectories += file("tools")' \
//       'runMain graft.tools.ScaleFixture /root/testdata/sf0.1 /tmp/graft_sf1 10'
//
// Replication semantics (what "10× the corpus" means per table family):
//  - TPC-H keys (order/part/supp/cust) offset by copy·10^8, so the copies
//    are DISJOINT — the co-occurrence graph becomes 10 disconnected
//    copies (10× nodes, 10× edges, same diameter/degree profile), which
//    is how a corpus actually grows; offsetting only orderkeys would
//    instead multiply edge WEIGHTS on a fixed graph.
//  - dimension tables (customer/supplier/part) replicate with the SAME
//    key shift and payload columns unchanged, so the fact tables' foreign
//    keys stay closed in every copy — dim-join queries (the TPC-H
//    family) see 10× facts against 10× dims instead of silently dropping
//    ~90% of fact rows on dangling keys. nation/region are unreplicated
//    enums (the dims' *_nationkey payloads still resolve).
//  - documents get per-copy token salting (every token suffixed `_k`):
//    token-set structure is preserved by BIJECTION (each copy reproduces
//    the original's Jaccard/shingle pair set exactly) while copies share
//    no token or shingle — near-dup volume grows linearly for the
//    token-set operators, so a rehearsal measures plan scaling, not the
//    quadratic blowup of verbatim replication. CAVEAT: simhash
//    neighborhoods are HASH-dependent, not token-set-dependent — salting
//    reassigns every token's xxhash64, so per-copy hamming distances
//    shift and the simhash pair DENSITY differs from the source (the
//    measured 10× run had ~2× pairs per copy; see PLANS.md). Only the
//    exact-token-set operators inherit the "same pairs per copy"
//    guarantee.
//  - events replicate with event_id/user_id shifted (ts unchanged): 10×
//    the stream against the same time axis — per-user session/state
//    structure repeats per copy, watermark horizons are untouched (the
//    streaming rehearsal's input).
package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Sessions.local()
    val off = 100000000L // far above any key in the source fixtures
    val ks = spark.range(copies.toLong).select(col("id").as("k"))
    def rep(name: String)(f: DataFrame => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val outDf = f(base.crossJoin(ks))
      // ONE FILE PER COPY (r17): the source sf dirs are single-file, so the
      // crossJoin inherited ONE partition and every synthesized tier was
      // written as a single file with a single row group — which serialized
      // the entire scan-side map stage (tokenize/shingle/hash for the dedup
      // family) onto ONE task at EVERY tier. That fixture artifact was the
      // dedup family's "superlinear" second decade: linear task CPU, but a
      // serial term growing from a sliver of wall at 10x to dominant at
      // 100x (r17 phase attribution: avg parallelism 13.7 cores at 10x
      // -> 3.2 at 100x, GC/spill ~0). Range-partitioning by copy writes
      // `copies` files of CONSTANT size — exactly how a real corpus grows
      // (file count tracks data; splits parallelize the scan by
      // construction) and what the replication semantics above model.
      outDf.repartitionByRange(copies, col("k"))
        .select(base.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      // layout assertion (VERDICT r17 #5): the single-row-group trap — ONE
      // unsplittable file serializing the scan-side map stage — was found
      // once via the text corpus and cost two rounds of false superlinearity
      // alarms; this check keeps it from silently regenerating. Every
      // replicated tier must land as `copies` splittable part-files.
      // try/finally: Files.list leaks the directory handle unless the
      // stream is closed (ADVICE r18 — one leak per replicated table/tier)
      val listing = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$out/$name.parquet"))
      val partFiles =
        try listing.filter(p => p.getFileName.toString.startsWith("part-")).count()
        finally listing.close()
      require(copies <= 1 || partFiles > 1,
        s"$out/$name.parquet wrote $partFiles part-file(s) for ${copies}x — " +
          "single-file tiers serialize the scan map stage (the r17 trap)")
      println(s"wrote $out/$name.parquet (${copies}x, $partFiles files)")
    }
    def shift(c: String): Column = col(c) + col("k") * off
    rep("orders")(df => df
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")))
    rep("lineitem")(df => df
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")))
    rep("documents")(df => df
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("k").cast("string"))), " ")))
    // dims: same key shift, payload untouched — closes the fact FKs
    rep("customer")(df => df.withColumn("c_custkey", shift("c_custkey")))
    rep("supplier")(df => df.withColumn("s_suppkey", shift("s_suppkey")))
    rep("part")(df => df.withColumn("p_partkey", shift("p_partkey")))
    // events: 10x the stream on the same time axis (ts untouched)
    rep("events")(df => df
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id")))
    // embeddings (r17): vec_id AND label shifted per copy — every l6/l7
    // pair/kNN join blocks on (label, cell), so disjoint per-copy label
    // universes make each copy reproduce the original's pair/neighbor
    // structure EXACTLY (the documents token-salting guarantee, by key
    // disjointness instead of hash bijection): pair volume and per-block
    // join sizes grow exactly linearly, which is what a scale rehearsal
    // must hold fixed. Vectors themselves are byte-identical per copy —
    // fine for plan scaling, but global geometry statistics (e.g. IVF
    // centroid spread) see 100 identical clouds, not new density.
    // label stays int32-safe: 10 source labels, shift 1000/copy. Guarded
    // (ADVICE r17): a source fixture with ≥1000 distinct labels — or enough
    // copies to overflow the int cast — would silently collide per-copy
    // label universes and break the disjointness that keeps pair volume
    // exactly linear (the r17 l40 argmax bit-budget rule).
    // getAs[Number] (ADVICE r18): getInt(0) assumed IntegerType — a fixture
    // regenerated with a long/short label column would throw a cast error
    // here instead of reporting the actual guard violation
    val maxLabel = spark.read.parquet(s"$src/embeddings.parquet")
      .agg(max(col("label"))).head.getAs[Number](0).intValue()
    require(maxLabel < 1000,
      s"embeddings label universe reaches $maxLabel — the 1000-per-copy " +
        "stride would collide copies (disjointness guarantee broken)")
    require(copies.toLong * 1000 + maxLabel <= Int.MaxValue,
      s"$copies copies overflow the int32 label budget")
    rep("embeddings")(df => df
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("label",
        (col("label") + col("k").cast("int") * lit(1000)).cast("int")))
    // tiny enums pass through unreplicated so every source table exists
    // in the synthesized dir (nation/region stay valid via the dims'
    // unshifted *_nationkey payloads)
    for (t <- Seq("nation", "region")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"wrote $out/$t.parquet (1x passthrough)")
    }
    spark.stop()
  }
}
