package graft

import java.nio.file.Files

/** Exercises the graph loops' RELIABLE-checkpoint posture — the
  * cluster-mode path (connectedComponents' per-round truncate: persist per
  * round, reliable checkpoint every 3rd, final-round checkpoint move; the
  * other loops' every-3rd reliable cut) that the other specs never reach
  * because no checkpoint dir is set in local test sessions — plus the
  * fixpoint and round-cap contracts of the registry's converge=true modes.
  *
  * NOTE: SparkContext has no unset for the checkpoint dir, so after this
  * suite runs, concurrently/later CC invocations in this JVM also take the
  * reliable path — semantics are identical (the property spec's
  * union-find equivalence holds for both postures), only the
  * materialization medium changes. */
class GraphsReliableSpec extends SparkSpec {

  /** One registry graph transform (`kcore`, `label_prop`, `pagerank`)
    * over `edges` — the converge=true modes are only reachable here. */
  private def viaRegistry(name: String, edges: org.apache.spark.sql.DataFrame,
      params: (String, String)*): org.apache.spark.sql.DataFrame =
    graft.pipeline.Transforms.standard().resolve(name)(
      spark, Map("edges" -> edges), graft.pipeline.ParamMap(params.toMap))

  /** The messages the `graft.ops.Graphs` logger emits at WARN or above
    * while `body` runs. The converge loops warn on the driver thread that
    * runs them, before the transform returns, so nothing here waits. */
  private def graphsWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "graft.ops.Graphs"
    val ctx = LoggerContext.getContext(false)
    val config = ctx.getConfiguration
    assert(!config.getLoggers.containsKey(name), s"$name already has a logger config")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graphs-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // own level (the shared session logs at ERROR), not additive: the
    // captured warnings stay out of the console
    val lc = new LoggerConfig(name, Level.WARN, false)
    lc.addAppender(capture, null, null)
    config.addLogger(name, lc)
    ctx.updateLoggers()
    try body
    finally {
      config.removeLogger(name)
      ctx.updateLoggers()
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("pageRank: exact values on a hand-computed chain, mass and base-rank properties") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a → b → c (unit weights), d=0.85, 3 iterations, pr0 = 1/3:
    //   a never receives: pr(a) = 0.15/3 = 0.05 after every iteration
    //   b: it1 0.05+0.85/3, it2 0.05+0.85·0.05 = 0.0925, it3 same = 0.0925
    //   c: it3 0.05+0.85·0.0925 = 0.128625
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "w")
    val got = graft.ops.Graphs.pageRank(edges, 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("a") - 0.05) < 1e-9, got.toString)
    assert(math.abs(got("b") - 0.0925) < 1e-9, got.toString)
    assert(math.abs(got("c") - 0.128625) < 1e-9, got.toString)
    // declared graph: mass stays in (1-d, 1] (dangling suppliers leak
    // mass through the damping term only), sources sit at the base rank
    val pr = graft.ops.Graphs.l26PageRank(spark, sfDir)
    val mass = pr.agg(sum(col("pr"))).head().getDouble(0)
    assert(mass > 0.15 && mass <= 1.0 + 1e-6, s"PageRank mass $mass out of range")
    val nN = pr.count()
    val base = pr.where(col("node").startsWith("c"))
      .agg(max(abs(col("pr") - lit(0.15) / nN))).head().getDouble(0)
    assert(base < 1e-8, s"customers (no in-edges) must sit at the base rank: $base")
  }

  test("converged variants are true fixpoints: one-more-round identity, tol contraction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.Graphs

    // k-core: run-to-convergence on the REAL co-occurrence graph must
    // equal the fixed-round peel once the fixed plan has enough rounds —
    // and one more fixed round must be the identity (Seidman fixpoint)
    val co = Graphs.coOccurrenceEdges(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val coAdj = Graphs.adjacency(co)
    val kConv = rows(viaRegistry("kcore", co, "k" -> "3", "converge" -> "true"))
    val k12 = rows(Graphs.kcorePeel(coAdj, k = 3, rounds = 12))
    val k13 = rows(Graphs.kcorePeel(coAdj, k = 3, rounds = 13))
    assert(k12 == k13, "12 fixed peel rounds did not reach the fixpoint — " +
      "raise the fixed reference round count in this test")
    assert(kConv == k12,
      s"converged k-core != fixed-round fixpoint: only-conv=${(kConv -- k12).take(3)} " +
        s"only-fixed=${(k12 -- kConv).take(3)}")
    assert(kConv.nonEmpty && kConv.forall(_._2 >= 3),
      "every surviving node must keep induced degree >= k")

    // LPA: on a converging graph (two disjoint triangles) the converged
    // assignment equals fixed-round R AND R+1 — one more synchronous
    // round reproduces the same assignment
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("sa", "sb")
    val triAdj = Graphs.adjacency(tri)
    val lConv = rows(Graphs.labelPropagationConverged(triAdj, maxRounds = 10))
    val l4 = rows(Graphs.labelPropagation(triAdj, rounds = 4))
    val l5 = rows(Graphs.labelPropagation(triAdj, rounds = 5))
    assert(l4 == l5, "LPA fixed rounds 4 and 5 disagree — not yet a fixpoint")
    assert(lConv == l4, s"converged LPA != fixed fixpoint: $lConv vs $l4")
    assert(lConv == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)))

    // r21 round-1 shortcut: on a DISTINCT simple graph, simpleGraph=true
    // (round 1 = min neighbor via array_min) must equal the generic path
    // at every round count — including an asymmetric graph (star + path)
    // where round-1 labels differ per node
    val star = Graphs.adjacency(Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L))
      .toDF("sa", "sb"))
    for (r <- 1 to 4) {
      val generic = rows(Graphs.labelPropagation(star, rounds = r))
      val fast = rows(Graphs.labelPropagation(star, rounds = r, simpleGraph = true))
      assert(fast == generic, s"simpleGraph shortcut diverged at rounds=$r: " +
        s"only-fast=${(fast -- generic).take(3)} only-generic=${(generic -- fast).take(3)}")
      val fastTri = rows(Graphs.labelPropagation(triAdj, rounds = r, simpleGraph = true))
      val genTri = rows(Graphs.labelPropagation(triAdj, rounds = r))
      assert(fastTri == genTri, s"simpleGraph shortcut diverged on tri at rounds=$r")
    }

    // PageRank: tight tol reaches the ANALYTIC fixpoint of a cyclic graph
    // (a<->b plus c->a, damping 0.5: pr = (4/9, 7/18, 1/6)), and a loose
    // tol stops within the contraction bound tol*d/(1-d) of the tight run
    val cyc = Seq(("a", "b", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    def prMap(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tight = prMap(Graphs.pageRankConverged(cyc, damping = 0.5,
      maxRounds = 80, tol = 1e-9))
    assert(math.abs(tight("a") - 4.0 / 9) < 1e-7, tight.toString)
    assert(math.abs(tight("b") - 7.0 / 18) < 1e-7, tight.toString)
    assert(math.abs(tight("c") - 1.0 / 6) < 1e-7, tight.toString)
    val tolLoose = 1e-2
    val loose = prMap(Graphs.pageRankConverged(cyc, damping = 0.5,
      maxRounds = 80, tol = tolLoose))
    val l1 = loose.map { case (n, v) => math.abs(v - tight(n)) }.sum
    // ||pr_stop - pr_fix||_1 <= tol * d/(1-d) once the per-round L1 delta
    // is below tol (geometric tail of the damping contraction)
    val bound = tolLoose * 0.5 / (1 - 0.5) + 1e-8
    assert(l1 <= bound, s"loose-tol stop point violates the contraction " +
      s"bound: L1=$l1 > $bound")
  }

  test("kcore peel: a no-removal round short-circuits, results identical (r21)") {
    import spark.implicits._
    import graft.ops.Graphs
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a 4-clique IS its own 3-core: the first round removes nothing, so the
    // early exit skips every remaining round — the result must still be the
    // full degree table, identical to a long unroll
    val clique = (for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j))
      .toDF("sa", "sb")
    val peeled = rows(Graphs.kcorePeel(Graphs.adjacency(clique), k = 3, rounds = 3))
    assert(peeled == (1L to 4L).map(n => n -> 3L).toSet, peeled.toString)
    // clique + pendant chain 4-5-6 at k=2: round 1 removes 6, round 2
    // removes 5, round 3 removes nothing — a rounds=5 peel must equal the
    // exact-2-round peel (the identity tail is skipped, not recomputed)
    val g = clique.unionByName(Seq((4L, 5L), (5L, 6L)).toDF("sa", "sb"))
    val gAdj = Graphs.adjacency(g)
    val r5 = rows(Graphs.kcorePeel(gAdj, k = 2, rounds = 5))
    val r2 = rows(Graphs.kcorePeel(gAdj, k = 2, rounds = 2))
    assert(r5 == r2, s"early-exit tail changed the result: ${r5 -- r2} ${r2 -- r5}")
    assert(r5 == Set(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), r5.toString)
  }

  test("pageRank/LPA/kcore engage the reliable checkpoint under a dir, results unchanged") {
    import spark.implicits._
    import graft.ops.Graphs
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val co = Graphs.coOccurrenceEdges(spark, sfDir)
    val prEdges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (1L, 3L, 2L))
      .toDF("src", "dst", "w")
    def prRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // plain-posture references, computed BEFORE any checkpoint dir exists
    // (this test must precede the suite's CC test, which sets one);
    // iters/rounds = 4 so round 3 hits the every-3rd cadence AND is not
    // the final round (cutRound's round < total guard)
    val hadDir = spark.sparkContext.getCheckpointDir.isDefined
    val plainPr = prRows(Graphs.pageRank(prEdges, 0.85, iters = 4))
    val plainLpa = rows(Graphs.labelPropagation(Graphs.adjacency(co), rounds = 4))
    val plainK = rows(Graphs.kcorePeel(Graphs.adjacency(co), k = 3, rounds = 4))

    val ckptRoot = Files.createTempDirectory("graft_graphs_ckpt")
    spark.sparkContext.setCheckpointDir(ckptRoot.toString)
    def pathsUnder(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(ckptRoot)
      try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
    }
    // NEW paths, not a count delta: the ContextCleaner (cleanCheckpoints
    // on) deletes earlier ops' checkpoint files as their frames are GC'd,
    // so a raw count can legitimately SHRINK across a body that still
    // checkpointed. The check runs while the built frame is still
    // strongly referenced — its lineage pins the round checkpoints, so
    // the cleaner can't reclaim them before the assert.
    def grew(label: String)(body: => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val before = pathsUnder()
      val df = body
      assert((pathsUnder() -- before).nonEmpty,
        s"$label produced no reliable checkpoint files under the dir")
      df
    }
    val relPr = prRows(grew("pageRank")(Graphs.pageRank(prEdges, 0.85, iters = 4)))
    val relLpa = rows(grew("labelPropagation")(
      Graphs.labelPropagation(Graphs.adjacency(co), rounds = 4)))
    val relK = rows(grew("kcorePeel")(
      Graphs.kcorePeel(Graphs.adjacency(co), k = 3, rounds = 4)))
    // the converge mode upgrades its cuts the same way
    val relKConv = rows(grew("kcore converge=true")(
      viaRegistry("kcore", co, "k" -> "3", "converge" -> "true")))
    assert(relKConv.nonEmpty && relKConv.forall(_._2 >= 3))
    // checkpointing must be behavior-neutral
    if (!hadDir) {
      assert(relPr == plainPr, "pageRank rows changed under the reliable posture")
      assert(relLpa == plainLpa, "LPA rows changed under the reliable posture")
      assert(relK == plainK, "kcore rows changed under the reliable posture")
    }
  }

  test("converge=true warns on the round cap only when the cap cut the run short") {
    import spark.implicits._
    def capped(ws: Seq[String], op: String, rounds: Int): Boolean =
      ws.exists(_.startsWith(s"$op stopped on the round cap ($rounds rounds)"))
    // k-core at k=2 on a 4-clique + pendant chain 4-5-6: round 1 removes 6,
    // round 2 removes 5, round 3 removes nothing. One round leaves 5 below
    // k; two rounds end exactly on the fixpoint, which is no cap exit.
    val g = (for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j))
      .toDF("sa", "sb").unionByName(Seq((4L, 5L), (5L, 6L)).toDF("sa", "sb"))
    def kcore(maxRounds: String): Seq[String] = graphsWarnings {
      viaRegistry("kcore", g, "k" -> "2", "converge" -> "true",
        "max_rounds" -> maxRounds).collect()
    }
    val kCut = kcore("1")
    assert(capped(kCut, "kcore", 1), s"no k-core cap warning: $kCut")
    assert(kcore("2").isEmpty, "k-core warned although round 2 reached the fixpoint")
    assert(kcore("50").isEmpty, "converged k-core warned")

    // LPA on two triangles settles after round 2; one round leaves
    // labels still changing
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("sa", "sb")
    def lpa(maxRounds: String): Seq[String] = graphsWarnings {
      viaRegistry("label_prop", tri, "converge" -> "true",
        "max_rounds" -> maxRounds).collect()
    }
    val lCut = lpa("1")
    assert(capped(lCut, "labelPropagationConverged", 1), s"no LPA cap warning: $lCut")
    assert(lpa("50").isEmpty, "converged LPA warned")

    // PageRank on the damping-0.5 cycle: two rounds are far from tol 1e-9
    val cyc = Seq(("a", "b", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    def pr(maxRounds: String): Seq[String] = graphsWarnings {
      viaRegistry("pagerank", cyc, "damping" -> "0.5", "converge" -> "true",
        "tol" -> "1e-9", "max_rounds" -> maxRounds).collect()
    }
    val pCut = pr("2")
    assert(capped(pCut, "pageRankConverged", 2), s"no PageRank cap warning: $pCut")
    assert(pr("80").isEmpty, "converged PageRank warned")
  }

  test("connected components under a checkpoint dir: chain forces the cadence") {
    val ckptRoot = Files.createTempDirectory("graft_cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckptRoot.toString)
    import spark.implicits._
    // a 12-node chain propagates the min ONE hop per hash-to-min round →
    // ~11 rounds: crosses the every-3rd reliable-checkpoint cadence
    // several times and ends on a non-multiple round, exercising the
    // final checkpoint move + cache unpersist
    val n = 12L
    val ids = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("da", "db")
    val got = graft.ops.Graphs.connectedComponents(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(_ -> 0L).toMap, got.toSeq.sorted.take(5))
    // evidence the reliable path engaged: checkpoint data under the dir
    val walk = Files.walk(ckptRoot)
    val entries = try walk.count() finally walk.close()
    assert(entries > 1, "expected reliable checkpoint files under the dir")
  }
}
