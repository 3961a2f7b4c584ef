// Fresh-JVM bench anchors (VERDICT r16 stretch #8): the shared-JVM bench's
// ambient 2-4x drift (memory: JVM age, GC history, load) burned adjudication
// time in r13-r15 — every suspicious per-query regression had to be re-run
// by hand in a clean JVM before it could be believed. This tool makes that
// one command: each anchor query runs in its OWN forked JVM (standard
// sf0.001 warmup, then min-of-2 at the target dir — the same per-cell
// method as DecadeRehearsal r17), so the recorded number has no sequence
// contamination by construction. Compare a suspect bench.json entry against
// tools/bench_anchors.json before calling it a regression.
//
// Default picks = the bench's expensive tail PLUS (r18) every query that
// moved >=1.3x between rounds without an anchor — the standing rule from
// VERDICT r17 #1: any round-over-round mover gets added here and the
// artifact re-run on an idle box before the move is called a regression.
// Subset runs merge (carry-forward); load averages are recorded so the
// artifact self-certifies the idle condition.
//   sbt 'set Compile/unmanagedSourceDirectories += file("tools")' compile
//   SPARK_DRIVER_MEM=32g tools/run.sh graft.tools.BenchAnchors
//   SPARK_DRIVER_MEM=32g tools/run.sh graft.tools.BenchAnchors <sfDir> q1,q2
package graft.tools

import java.nio.file.{Files, Paths}

object BenchAnchors {
  /** MEMBERSHIP RULE (VERDICT r18 stretch #7, also written into the
    * artifact's note): the anchor set is
    *   (a) every query EVER named in a bench artifact's `suspect` list, plus
    *   (b) the 10 most expensive queries of the latest idle-adjudicated run,
    * regenerated once per round on the final tree so the set tracks the
    * bench instead of fossilizing on past incidents. Names are listed
    * explicitly (not derived at runtime) so a deleted/renamed query fails
    * loudly here rather than silently shrinking the set. */
  private val defaultPicks = Seq(
    // (b) the expensive tail (r16 origin set, still the top of the idle run)
    "l35_triangles", "l5c_simhash", "l40_label_prop", "l46b_kcore_deep",
    "l46_kcore", "l45_prefix_join", "t9_stream_stream_join", "l26_pagerank",
    "l28_containment", "l5e_dedup_groups",
    // (a) r17 suspects: every >=1.3x r16->r17 mover (loaded-box round)
    "l5b_minhash_lsh", "l29_novelty", "l7f_knn_ivfpq", "s9_zorder_layout",
    "l30_pmi_cooccur", "l28b_containment_dedup",
    // expensive tail / audit-touched continuation
    "l36_semdedup", "l37_proto_prune", "l7c_knn_ivf", "l22_pipeline_clean",
    "e9_anomaly", "l38_group_split",
    // (a) r18 suspects: BENCH_r18's 23 anchor movers under load (its
    // suspect list truncated at 16 — the tail reconstructed from the
    // verdict's mover list; the Bench artifact now records suspects
    // uncapped, so future rounds append verbatim)
    "f9_generator", "g11_hll_merge", "g11b_hll_persist",
    "g12_bitmap_distinct", "g13_freq_sketch", "g14_hll_intersect",
    "g15_cm_sketch", "g4_rollup", "g4b_cube", "g4c_grouping_sets",
    "j2_left_outer", "j2b_full_outer", "j3_semi_anti", "j4_cross",
    "j5_range_join", "j6_broadcast", "j9_bloom_join", "l21_lm_score",
    // (a) r19 suspects + regates (BENCH_r19 `suspect`/`regated`, VERDICT
    // r19 #3 names e10/e14/l6b explicitly — their missing anchors left
    // the r19 clean pass with nothing to cross-check against) plus the
    // two ≥2x stdout movers of that loaded round
    "e10_event_paths", "e13_funnel_steps", "e14_pattern_match", "e15_ewma",
    "e17_session_funnel", "e18_linear_attribution",
    "e19_position_attribution", "l44_source_kl", "l6_cosine_pairs",
    "l6b_embed_dedup", "l7d_knn_pq", "l7e_knn_brute_capped", "p6_distinct",
    "p7_profile", "t11_doc_ingest")

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--cell")) runCell(args(1), args(2))
    else runParent(args)

  /** Top-level key count of the artifact's `"queries":{...}` object by
    * brace scan — the carry-forward guard's independent denominator. A
    * key is counted where its '"' opens at depth 1 inside the object
    * (string contents are skipped, so names/values can't confuse the
    * depth tracking). Malformed input (no queries object, unbalanced
    * braces) returns -1, which can never equal a parse count ≥ 0. */
  private[tools] def countQueriesKeys(txt: String): Int = {
    val at = txt.indexOf("\"queries\":{")
    if (at < 0) return -1
    var i = at + "\"queries\":".length
    var depth = 0; var keys = 0; var inStr = false; var expectKey = true
    while (i < txt.length) {
      val c = txt.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '{' => depth += 1; expectKey = true
        case '}' => depth -= 1; if (depth == 0) return keys
        case '"' =>
          inStr = true
          if (depth == 1 && expectKey) { keys += 1; expectKey = false }
        case ':' => if (depth == 1) expectKey = false
        case ',' => if (depth == 1) expectKey = true
        case _ => ()
      }
      i += 1
    }
    -1 // ran off the end: unbalanced object
  }

  private def runCell(name: String, dir: String): Unit = {
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    graft.core.Caches.releaseAll(spark)
    val fn = graft.SparkEntry.queries(name)
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
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

  private def runParent(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val picks = args.lift(1).map(_.split(",").toSeq).getOrElse(defaultPicks)
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "32g")
    val opens = (Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic").map("java.base/" + _) ++
      Seq("sun.nio.ch", "sun.nio.cs", "sun.security.action",
        "sun.util.calendar").map("java.base/" + _))
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val T = """.*"t":(-?[0-9.]+),"rows":(-?[0-9]+).*""".r
    // carry-forward merge (the DecadeRehearsal rule): a
    // subset re-anchor run must never erase the rest of the artifact
    val out = Paths.get("tools/bench_anchors.json")
    val prior: Map[String, String] = if (Files.exists(out)) {
      val txt = Files.readString(out)
      val parsed = """"([a-z0-9_]+)":(\{"t":[^}]*\})""".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
      // round-trip guard (ADVICE r18, tightened r19): the parsed entry
      // count must equal the queries object's top-level key count, or a
      // format drift would silently drop prior anchors on a subset re-run.
      // The count is now INDEPENDENT of the value regex (ADVICE r19: the
      // old count shared the '"name":{"t":' prefix, so most drifts moved
      // both counts together) — it brace-scans the queries object and
      // counts depth-1 entries, so nested values, renamed inner keys, and
      // duplicate names all diverge from the regex count and trip here.
      val keyCount = countQueriesKeys(txt)
      require(parsed.size == keyCount,
        s"carry-forward parse dropped entries (${parsed.size} of $keyCount) — " +
          "bench_anchors.json format drifted past the flat-value regex")
      parsed
    } else Map.empty
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg
    var loadMax = loadStart
    var done = List.empty[String]
    def flush(): Unit = {
      val mine = done.reverse.map { e =>
        val k = e.takeWhile(_ != ':').stripPrefix("\"").stripSuffix("\"")
        k -> e.dropWhile(_ != ':').drop(1)
      }
      val order = defaultPicks.zipWithIndex.toMap
      val merged = (prior ++ mine).toSeq
        .sortBy { case (k, _) => (order.getOrElse(k, Int.MaxValue), k) }
        .map { case (k, v) => s""""$k":$v""" }
      // load_avg_{start,max}: the artifact self-certifies the idle-box
      // condition the r17 shipped bench could not (its load peaked 10.21
      // mid-run) — an anchor taken above ~2 on this 32-core box is suspect
      Files.writeString(out, merged.mkString(
        s"""{"dir":"$dir","fresh_jvm_per_query":true,""" +
          """"note":"membership rule (VERDICT r18 #7): every query ever named in a bench artifact's suspect list + the 10 most expensive of the latest idle-adjudicated run; regenerated once per round on the final tree",""" +
          f""""load_avg_start":$loadStart%.2f,"load_avg_max":$loadMax%.2f,""" +
          """"queries":{""", ",", "}}\n"))
    }
    picks.foreach { name =>
      val cmd = (Seq("java") ++ opens ++ Seq(s"-Xmx$mem",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
        "graft.tools.BenchAnchors", "--cell", name, dir))
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      var cell: Option[(Double, Long)] = None
      scala.io.Source.fromInputStream(proc.getInputStream).getLines().foreach {
        case l if l.startsWith("CELL ") => l match {
          case T(t, r) => cell = Some((t.toDouble, r.toLong))
          case _ => println(s"    unparsable: $l")
        }
        case _ => ()
      }
      proc.waitFor()
      loadMax = math.max(loadMax, loadAvg)
      val (t, rows) = cell.getOrElse((-1.0, -1L))
      println(f"$name%-24s t=$t%8.2f s  rows=$rows  load=$loadAvg%.2f")
      if (t < 0) println(s"  SKIP merge: cell failed for $name — prior entry kept")
      else { done ::= f""""$name":{"t":$t%.2f,"rows":$rows}"""; flush() }
    }
    flush()
    println("wrote tools/bench_anchors.json")
  }
}
