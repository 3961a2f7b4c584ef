// Two-decade scale rehearsal (r15, fork-per-cell since r17): the 10x growth
// table answers "does the plan survive one order of magnitude"; this tool
// answers the harder question the 100 TB posture actually rests on — is the
// growth EXPONENT STABLE across decades, or does a fixed cost that dominated
// at 10x hide a super-linear term that only shows at 100x?
//
// r17 method fix (VERDICT r16 #1): every CELL (query × tier) runs in its own
// forked JVM. The r15/r16 sequence-in-one-JVM method was proven to inflate
// late 100x picks ~2.2x by JVM age (tools/pairjoin.json: l45 198.6 s aged vs
// 88.8 s fresh), and the 32→320 shuffle-partition change between the 10x and
// 100x tiers alone moved l46b's e2 from 1.10 to 0.59 (decade_attrib.json).
// So this tool now measures FOUR cells per pick — 1x@32, 10x@32, 10x@320,
// 100x@320 — each min-of-2 inside a fresh JVM, and reports BOTH
//   e2 ("mixed", 10x@32 → 100x@320 — the deployment posture, partitions
//       scaled with data exactly as a real cluster rollout would) and
//   e2_pure (10x@320 → 100x@320 — FIXED setting, the clean growth exponent).
//   sbt 'set Compile/unmanagedSourceDirectories += file("tools")' compile
//   SPARK_DRIVER_MEM=64g tools/run.sh graft.tools.DecadeRehearsal
// (build the dirs first with graft.tools.ScaleFixture, factors 10 / 100)
package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

object DecadeRehearsal {
  // the highest-exponent graph unrolls + the dedup family's heavy hitters —
  // the operators whose 100 TB claims lean hardest on the growth evidence
  // (the full 11-pick set stays with ScaleRehearsal; this subset is what a
  // second decade is affordable for). Cheapest-first so an early failure
  // loses the least; the artifact is rewritten after every pick.
  // `--picks a,b,c` runs ONLY the named queries and MERGES into the
  // existing artifact (re-measure what you name,
  // carry forward what you don't) — added r17 to extend the table to the
  // event-analytics family without re-paying the graph family's hours.
  private val pickNames = Seq(
    "l5b_minhash_lsh", "l34_source_overlap", "l45_prefix_join",
    "l49_dedup_keep_best", "l5f_dedup_apply", "l5c_simhash_pairs",
    "l35_triangles", "l46b_kcore_deep", "l26_pagerank", "l40_label_prop",
    // r17: the e-family (user-keyed windows/sessionization over the
    // replicated event stream) — scale evidence previously only existed
    // for the dedup/graph/streaming families
    "e1_sessionize", "e9_anomaly", "e15_ewma", "e17_session_funnel",
    // r17: the vector/ANN family over the label-shifted embedding
    // replication (disjoint per-copy label universes — pair volume linear
    // by construction); l7c/l7f are the declared annSummary queries, so
    // each cell runs approx AND its brute reference
    "l6_cosine_pairs", "l6b_embed_dedup", "l7_knn_brute",
    "l7c_knn_ivf", "l7f_knn_ivfpq",
    // r17: the relational TPC-H core's three heaviest declared queries —
    // the multi-join + agg family Catalyst plans natively; replication
    // closes every FK so dim joins see 100x facts against 100x dims
    "tq2_min_cost_supplier", "tq9_product_profit", "tq21_waiting_supplier",
    // r17: the profiling/observability family — p7 carries the repo's one
    // remaining non-hash aggregate shape (string min/max SortAggregates
    // under the count-distinct Expand), p9's FK anti-joins probe the
    // replicated dims, p11's PSI reduces the stream to bin-grid rows
    "p7_profile", "p9_expectations", "p11_psi_drift",
    // r17: the join-strategy operators themselves — j7's single-shuffle
    // as-of window, j8's sampled hot-key salt split, j9's runtime bloom
    // semi-join reduction; their entire reason to exist is scale behavior
    "j7_asof_join", "j8_salted_join", "j9_bloom_join",
    // r17: the window family — w5 is the plain Window row_number cut,
    // w5c the TopKRewrite rule's sketch-aggregate plan (DIFFERENT
    // declared queries — coverage rows, not a controlled A/B; the rule's
    // own fire/no-Window contract is pinned in PlanSpec)
    "w5_topk_per_group", "w5c_topk_rewrite",
    // r18 (VERDICT r17 #2): the families whose scale story was argued but
    // never measured — the sketch aggregates (g11b persisted-HLL rollup,
    // g12 exact mergeable bitmap distinct, g15 CM point-frequency), the
    // multimodal frame-dup inverted index, and the CDC layer (s13 MERGE
    // upsert, s15 snapshot diff). All read tables ScaleFixture replicates
    // (events / documents / orders).
    "g11b_hll_persist", "g12_bitmap_distinct", "g15_cm_sketch",
    "mm4_frame_dup", "s13_merge_upsert", "s15_snapshot_diff",
    // r18 follow-through on the mover adjudication: the four queries the
    // r17 loaded-box bench flagged now carry growth rows too, so the next
    // "did X regress" question has BOTH an anchor and an exponent to
    // check against
    "l29_novelty", "l30_pmi_cooccur", "l28b_containment_dedup",
    "s9_zorder_layout",
    // r18 completion of the sketch/window families: g13 Misra-Gries (the
    // one G-sketch member still unmeasured alongside g14's HLL intersect)
    // and w5b's bounded top-k aggregate (w5/w5c had rows; the
    // TypedImperativeAggregate path did not)
    "g13_freq_sketch", "g14_hll_intersect", "w5b_topk_agg",
    // r19 (VERDICT r18 #4): the last argued-not-measured families — s16's
    // SCD2 history build (one keyed sort+window pass), s17's incremental-MV
    // refresh (delta partials + stored partials, no history re-scan), e18's
    // linear attribution (the j10 banded inequality-join consumer), and the
    // o7/o8 weighted-sampling pair (global TakeOrdered top-k vs per-stratum
    // window cut)
    "s16_scd2_history", "s17_incremental_agg", "e18_linear_attribution",
    "o7_weighted_sample", "o8_stratified_weighted",
    // r19 breadth pass: one row per remaining thin family — text cleaning
    // (l17 decontaminate, l22 fused pipeline, l41 DSIR), the range window
    // (w7), event attribution/funnel (e12/e13), the TPC-H single-scan and
    // pre-join-rollup shapes (tq1/tq18), global top-k (o3), set ops (u2),
    // and the vector pruning pair (l36/l37)
    "l17_decontaminate", "l22_pipeline_clean", "l41_dsir_weights",
    "w7_time_range", "e12_attribution", "e13_funnel_steps",
    "tq1_pricing_summary", "tq18_large_volume", "o3_topk_global",
    "u2_intersect", "l36_semdedup", "l37_proto_prune")

  private def queryOf(name: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
    name match {
      // rehearsal name that verifies a differently-named pick's plan
      case "l5c_simhash_pairs" => (s, d) => graft.ops.TextOps.l5cSimhash(s, d)
      // e15 is a pure window PROJECTION — under the harness's count()
      // Catalyst prunes the unused window expression entirely (verified:
      // no Window in the optimized count plan), so the bare pick times
      // only the gap-fill. Summing the ewma keeps the window on the plan
      // and adds one scalar aggregate — the cell then measures the real
      // per-user windowed pass.
      case "e15_ewma" => (s, d) =>
        graft.SparkEntry.queries("e15_ewma")(s, d)
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("ewma256")))
      // s16 ends in window PROJECTIONS (lead valid_to / is_current) — under
      // count() Catalyst prunes the lead expression (the e15 rule), so the
      // cell sums over the window outputs to keep the full pass on the plan
      case "s16_scd2_history" => (s, d) => {
        import org.apache.spark.sql.functions._
        graft.SparkEntry.queries("s16_scd2_history")(s, d)
          .agg(sum(coalesce(col("valid_to"), col("valid_from"))).as("vt"),
            sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"))
      }
      // o7/o3 are orderBy().limit(k) — a bare count() doesn't need the ORDER
      // and EliminateSorts could drop the top-k entirely; summing the
      // selected values forces the correct k rows
      case "o7_weighted_sample" => (s, d) => {
        import org.apache.spark.sql.functions._
        graft.SparkEntry.queries("o7_weighted_sample")(s, d)
          .agg(sum(col("score")).as("sc"))
      }
      case "o3_topk_global" => (s, d) => {
        import org.apache.spark.sql.functions._
        graft.SparkEntry.queries("o3_topk_global")(s, d)
          .agg(sum(col("revenue")).as("sc"))
      }
      // e10 ends in orderBy().limit(20) — the o3 rule: under a bare
      // count() EliminateSorts may drop the top-N ordering; summing the
      // selected counts forces the correct 20 rows
      case "e10_event_paths" => (s, d) => {
        import org.apache.spark.sql.functions._
        graft.SparkEntry.queries("e10_event_paths")(s, d)
          .agg(sum(col("n_users")).as("sc"))
      }
      // w7 is a pure RANGE-window projection — the e15 count()-pruning rule
      case "w7_time_range" => (s, d) => {
        import org.apache.spark.sql.functions._
        graft.SparkEntry.queries("w7_time_range")(s, d)
          .agg(sum(col("n_1h")).as("a"), sum(col("cents_1h")).as("b"))
      }
      // w1-w4/w6 are pure window PROJECTIONS (the e15 rule): under a bare
      // count() Catalyst prunes every unused window expression and the
      // cell times only the scan. Aggregating over the window outputs
      // (count(col) forces each expression's evaluation) keeps the full
      // windowed pass on the plan.
      case n @ ("w1_rank" | "w2_lag_lead" | "w3_running_sum" |
                "w4_first_last" | "w6_distribution") => (s, d) => {
        import org.apache.spark.sql.functions._
        val winCols = Map(
          "w1_rank" -> Seq("rn", "rk", "drk", "quartile"),
          "w2_lag_lead" -> Seq("prev_price", "next_orderkey", "prev2_orderkey"),
          "w3_running_sum" -> Seq("running_qty", "nbr_qty"),
          "w4_first_last" -> Seq("richest", "poorest"),
          "w6_distribution" -> Seq("pr", "cd", "second_poorest"))(n)
        graft.SparkEntry.queries(n)(s, d)
          .agg(count(col(winCols.head)).as("c0"),
            winCols.tail.map(c => count(col(c))): _*)
      }
      case n => graft.SparkEntry.queries(n)
    }

  // cells: (json key, dir index, shuffle partitions). 1x/10x run the
  // production setting (32 — over-partitioning the small tiers doubled
  // l26/l35 in the first r15 run); 100x at 320 (at 32 the 100x LPA
  // aggregate concentrates ~7.5M groups per task and dies with
  // AGGREGATE_OUT_OF_MEMORY); 10x ALSO at 320 for the fixed-setting pair.
  private val cells = Seq(("t1", 0, 32), ("t10", 1, 32),
    ("t10_320", 1, 320), ("t100", 2, 320))

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--cell")) runCell(args(1), args(2).toInt, args.drop(3))
    else runParent(args)

  /** Child mode: ONE query at ONE (dir, partitions) cell, min of two runs,
    * in a JVM that has done nothing else but the standard sf0.001 warmup
    * (JIT/classload parity with Bench's fresh-JVM anchor runs). */
  private def runCell(name: String, cellIdx: Int, dirs: Array[String]): Unit = {
    val (_, dirIdx, np) = cells(cellIdx)
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    graft.core.Caches.releaseAll(spark)
    spark.conf.set("spark.sql.shuffle.partitions", np)
    val fn = queryOf(name)
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = fn(spark, dirs(dirIdx)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.releaseAll(spark)
      (dt, n)
    }
    val out = try {
      val a = once(); val b = once()
      f"""{"t":${math.min(a._1, b._1)}%.2f,"rows":${a._2}}"""
    } catch { case ex: Throwable =>
      s"""{"t":-1,"rows":-1,"err":"${ex.getClass.getSimpleName}"}"""
    }
    println(s"CELL $out")
    spark.stop()
  }

  /** Parent mode: forks one JVM per (pick, cell) and assembles
    * tools/growth_decades.json. The parent never starts Spark. */
  private def runParent(args: Array[String]): Unit = {
    // Flags are stripped BEFORE the positional dir parse (ADVICE r17: with
    // "--picks a,b" anywhere before the dirs, "--picks" and the pick list
    // were consumed as fixture dirs — every cell failed t=-1 and flush()
    // merged the poison rows over the good artifact entries).
    val picksArg = args.indexOf("--picks") match {
      case -1 => None
      case i =>
        require(i + 1 < args.length, "--picks needs a comma-separated value")
        Some(args(i + 1).split(",").toSeq)
    }
    val positional = {
      val b = Seq.newBuilder[String]
      var i = 0
      while (i < args.length) {
        if (args(i) == "--picks") i += 2
        else { b += args(i); i += 1 }
      }
      b.result()
    }
    val dirs = Seq(
      positional.headOption.getOrElse("/root/testdata/sf0.1"),
      positional.lift(1).getOrElse("/tmp/graft_sf1"),
      positional.lift(2).getOrElse("/tmp/graft_sf100"))
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "64g")
    val opens = (Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic").map("java.base/" + _) ++
      Seq("sun.nio.ch", "sun.nio.cs", "sun.security.action",
        "sun.util.calendar").map("java.base/" + _))
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def forkCell(name: String, cellIdx: Int): (Double, Long) = {
      val cmd = (Seq("java") ++ opens ++ Seq(s"-Xmx$mem",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
        "graft.tools.DecadeRehearsal", "--cell", name, cellIdx.toString) ++ dirs)
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      val proc = pb.start()
      val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines()
      var cell: Option[(Double, Long)] = None
      val T = """.*"t":(-?[0-9.]+),"rows":(-?[0-9]+).*""".r
      lines.foreach {
        case l if l.startsWith("CELL ") => l match {
          case T(t, r) => cell = Some((t.toDouble, r.toLong))
          case _ => println(s"    unparsable: $l")
        }
        case l if l.contains("ERROR") || l.contains("Exception") => println(s"    $l")
        case _ => ()
      }
      val rc = proc.waitFor()
      if (rc != 0 && cell.isEmpty) println(s"    cell JVM exited rc=$rc")
      cell.getOrElse((-1.0, -1L))
    }
    def e(tb: Double, ts: Double): Double =
      if (tb > 0 && ts > 0) math.log(tb / ts) / math.log(10.0) else -1.0
    val runPicks = picksArg.getOrElse(pickNames)
    // merge: entries in the existing artifact that this invocation does not
    // re-measure are carried forward verbatim, so a
    // --picks subset run never erases the rest of the table
    val out = Paths.get("tools/growth_decades.json")
    val prior: Map[String, String] = if (Files.exists(out)) {
      val txt = Files.readString(out)
      // regex assumption: entry values are FLAT (no nested braces) — true of
      // every field this tool emits. Round-trip guard (ADVICE r17): the
      // parsed entry count must equal the artifact's top-level key count, or
      // a format drift would silently drop carried-forward rows.
      val parsed = """"([a-z0-9_]+)":(\{"t":\[[^}]*\})""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
      val keyCount = """"([a-z0-9_]+)":\{"t":""".r.findAllMatchIn(txt).size
      require(parsed.size == keyCount,
        s"carry-forward parse dropped entries (${parsed.size} of $keyCount) — " +
          "growth_decades.json format drifted past the flat-value regex")
      parsed
    } else Map.empty
    var done = List.empty[String]
    def flush(): Unit = {
      val mine = done.reverse.map { e =>
        val k = e.takeWhile(_ != ':').stripPrefix("\"").stripSuffix("\"")
        k -> e.dropWhile(_ != ':').drop(1)
      }
      val merged = (prior ++ mine).toSeq
        .sortBy { case (k, _) =>
          // retired picks (no longer in pickNames) append at the END in name
          // order instead of sorting to the front on indexOf == -1
          val i = pickNames.indexOf(k)
          (if (i == -1) Int.MaxValue else i, k)
        }
        .map { case (k, v) => s""""$k":$v""" }
      Files.writeString(out, merged.mkString(
        """{"tiers":[1,10,100],"fresh_jvm_per_cell":true,""" +
          """"tier_partitions":[32,32,320],"pure_partitions":320,"queries":{""",
        ",", "}}\n"))
    }
    runPicks.foreach { name =>
      val t0 = System.nanoTime()
      val res = cells.indices.map { i =>
        val r = forkCell(name, i)
        println(f"  ${cells(i)._1}%-8s t=${r._1}%8.2f s rows=${r._2}")
        r
      }
      val Seq(c1, c10, c10p, c100) = res.toSeq
      val (e1, e2m, e2p) =
        (e(c10._1, c1._1), e(c100._1, c10._1), e(c100._1, c10p._1))
      println(f"$name%-22s t=${c1._1}%6.2f / ${c10._1}%7.2f / ${c10p._1}%7.2f@320" +
        f" / ${c100._1}%8.2f s  e1=$e1%5.2f e2_mixed=$e2m%5.2f e2_pure=$e2p%5.2f" +
        f"  (${(System.nanoTime() - t0) / 6e10}%.1f min)")
      // a pick whose EVERY cell failed (t=-1) is a harness problem, not a
      // measurement — never overwrite a good prior entry with it (ADVICE r17)
      if (res.forall(_._1 < 0))
        println(s"  SKIP merge: all cells failed for $name — prior entry kept")
      else {
        done ::= (f""""$name":{"t":[${c1._1}%.2f,${c10._1}%.2f,${c100._1}%.2f],""" +
          s""""rows":[${c1._2},${c10._2},${c100._2}],""" +
          f""""e1":$e1%.2f,"e2":$e2m%.2f,""" +
          f""""t10_320":${c10p._1}%.2f,"e2_pure":$e2p%.2f}""")
        flush()
      }
    }
    println("wrote tools/growth_decades.json (fresh JVM per cell)")
  }
}
