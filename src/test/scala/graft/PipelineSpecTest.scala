package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.pipeline._

/** Orchestration semantics (SURVEY.md §2 Part C, §5.2.4): topo order,
  * status state machine, submit filter, parameter substitution, and the
  * content-addressed step cache mirroring the reference's
  * materialization-reuse rules. */
class PipelineSpecTest extends SparkSpec {

  // every warehouse the tests below fill, for the footer-parity sweep at
  // the end of the suite
  private val warehouses = scala.collection.mutable.Buffer[String]()
  private def warehouse(prefix: String): String = {
    val wh = Files.createTempDirectory(prefix).toString
    warehouses += wh
    wh
  }

  private def diamond = PipelineSpec(Seq(
    StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "nation")),
    StepSpec("left", "sql", Map("t" -> "src"),
      Map("sql" -> "SELECT n_regionkey, count(*) AS n FROM t GROUP BY 1")),
    StepSpec("right", "sql", Map("t" -> "src"),
      Map("sql" -> "SELECT n_regionkey, min(n_name) AS first_name FROM t GROUP BY 1")),
    StepSpec("join", "sql", Map("l" -> "left", "r" -> "right"),
      Map("sql" -> "SELECT l.n_regionkey, n, first_name FROM l JOIN r USING (n_regionkey)"))))

  test("topoOrder: dependencies before dependents, memoized, roots only") {
    val order = diamond.topoOrder(Seq("join")).map(_.id)
    assert(order.head == "src" && order.last == "join")
    assert(order.toSet == Set("src", "left", "right", "join"))
    assert(diamond.topoOrder(Seq("left")).map(_.id) == Seq("src", "left"))
  }

  test("topoOrder: cycle detection") {
    val cyc = PipelineSpec(Seq(
      StepSpec("a", "identity", Map("in" -> "b")),
      StepSpec("b", "identity", Map("in" -> "a"))))
    assertThrows[IllegalArgumentException](cyc.topoOrder(Seq("a")))
  }

  test("status machine: observed transitions and sticky terminals") {
    import StepStatus._
    assert(transition(Raw, Waiting) == Waiting)
    assert(transition(Waiting, Running) == Running)
    assert(transition(Running, Finished) == Finished)
    // terminal states sticky except explicit re-run (VJob.py:248-254)
    assert(transition(Finished, Running) == Finished)
    assert(transition(Failed, Waiting) == Failed)
    assert(transition(Failed, Raw) == Raw)
    // submission filter (execution.py:42-44)
    assert(canSubmit(Raw) && canSubmit(Failed))
    assert(!canSubmit(Running) && !canSubmit(Finished) && !canSubmit(Archived))
  }

  test("param substitution: sorted-key order, unknown placeholders intact") {
    val p = ParamMap(Map("b" -> "2", "a" -> "${b}", "cut" -> "10"))
    // 'a' applied before 'b': ${a} -> ${b} -> then b applied -> 2
    assert(p.substitute("x=${a} y=${b} z=${zz} c=${cut}") == "x=2 y=2 z=${zz} c=10")
  }

  test("runner: executes DAG, caches steps, reruns only invalidated suffix") {
    val wh = warehouse("graft_wh")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val imps = runner.execute(diamond, Seq("join"))
    assert(runner.status("join") == StepStatus.Finished)
    val out = spark.read.parquet(s"$wh/${imps("join")}")
    assert(out.count() == 5) // 5 regions
    assert(out.columns.toSet ==
      Set("n_regionkey", "n", "first_name", Runner.LineageCol))

    // second run: everything cache-hit → skipped. A fresh runner loads the
    // persisted terminal status (Finished, sticky); a never-run session
    // view would show Archived — both mean "reused, not recomputed".
    val runner2 = new Runner(spark, Transforms.standard(), wh)
    runner2.execute(diamond, Seq("join"))
    assert(Set[StepStatus](StepStatus.Finished, StepStatus.Archived)
      .contains(runner2.status("join")))

    // param change on 'left' invalidates left+join but not right/src
    val changed = PipelineSpec(diamond.steps.map {
      case s if s.id == "left" =>
        s.copy(params = Map("sql" -> "SELECT n_regionkey, count(*)+1 AS n FROM t GROUP BY 1"))
      case s => s
    })
    val imps3 = new Runner(spark, Transforms.standard(), wh).execute(changed, Seq("join"))
    assert(imps3("src") == imps("src") && imps3("right") == imps("right"))
    assert(imps3("left") != imps("left") && imps3("join") != imps("join"))
  }

  test("runner: failed step marks failed and propagates") {
    val wh = warehouse("graft_wh2")
    val bad = PipelineSpec(Seq(
      StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "nation")),
      StepSpec("boom", "sql", Map("t" -> "src"), Map("sql" -> "SELECT no_such_col FROM t"))))
    val runner = new Runner(spark, Transforms.standard(), wh)
    assertThrows[RuntimeException](runner.execute(bad, Seq("boom")))
    assert(runner.status("boom") == StepStatus.Failed)
    assert(runner.status("src") == StepStatus.Finished)
    // failed is re-admittable: fix the spec → same id recomputes after reset
    runner.reset(bad, "boom")
    assert(runner.status("boom") == StepStatus.Raw)
  }

  test("runner: collect returns manifest; purge removes it") {
    val wh = warehouse("graft_wh3")
    val spec = PipelineSpec(Seq(
      StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "region"))))
    val runner = new Runner(spark, Transforms.standard(), wh)
    runner.execute(spec, Seq("src"))
    val art = runner.collect(spec, "src").get
    assert(art.rows == 5 && art.schemaDDL.contains("r_name"))
    runner.purge(spec, "src")
    assert(runner.collect(spec, "src").isEmpty)
  }

  test("runner: query transform exposes the declared operator inventory") {
    val wh = warehouse("graft_wh4")
    val spec = PipelineSpec(Seq(
      StepSpec("rev", "query", params = Map("name" -> "j1_revenue_by_nation", "dir" -> sfDir))))
    val runner = new Runner(spark, Transforms.standard(), wh)
    val imps = runner.execute(spec, Seq("rev"))
    assert(spark.read.parquet(s"$wh/${imps("rev")}").count() > 0)
  }

  test("decontaminate transform: real eval table + configurable shingle length (r6 #4)") {
    val wh = warehouse("graft_wh_dc")
    val runner = new Runner(spark, Transforms.standard(), wh)
    // a REAL eval table (not a doc_id-slice pseudo-holdout): benchmark
    // rows whose text verbatim-overlaps two train docs. doc_id 1's first
    // 5 tokens appear in eval doc 9001; doc_id 2 is clean.
    def spec(n: Int) = PipelineSpec(Seq(
      StepSpec("train", "sql",
        Map("d" -> "docs"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(1 AS BIGINT), 'the quick brown fox jumps over the lazy dog'), " +
          "(CAST(2 AS BIGINT), 'completely unrelated training text here')) " +
          "AS t(doc_id, text)"))),
      StepSpec("eval", "sql",
        Map("d" -> "docs"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(9001 AS BIGINT), 'benchmark asks the quick brown fox jumps please')) " +
          "AS t(doc_id, text)"))),
      StepSpec("flagged", "decontaminate",
        Map("train" -> "train", "eval" -> "eval"),
        Map("n" -> n.toString)),
      // the sql steps need SOME input; reuse a fixture table as a dummy
      StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "region"))))
    // n=4: "the quick brown fox" + "quick brown fox jumps" shared -> doc 1
    // flagged with 2 shared shingles from 1 eval doc; doc 2 clean
    val imps4 = runner.execute(spec(4), Seq("flagged"))
    val got4 = spark.read.parquet(s"$wh/${imps4("flagged")}")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got4.toSeq == Seq((1L, 1L, 2L)), got4.mkString(","))
    // n=6: no 6-gram survives the overlap -> nothing flagged; the knob is
    // live through the registry (different n = different impression too)
    val imps6 = runner.execute(spec(6), Seq("flagged"))
    assert(imps6("flagged") != imps4("flagged"))
    assert(spark.read.parquet(s"$wh/${imps6("flagged")}").count() == 0)
  }

  test("pipeline_clean: all three gate thresholds are live registry knobs") {
    val wh = warehouse("graft_wh_pc")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val docsStep = StepSpec("docs", "source",
      params = Map("dir" -> sfDir, "table" -> "documents"))
    val trainStep = StepSpec("train", "sql", Map("rows" -> "docs"),
      Map("sql" -> "SELECT * FROM rows WHERE doc_id % 20 <> 0"))
    val evalStep = StepSpec("eval", "sql", Map("rows" -> "docs"),
      Map("sql" -> "SELECT * FROM rows WHERE doc_id % 20 = 0"))
    def clean(params: (String, String)*) = {
      val imp = runner.execute(PipelineSpec(Seq(docsStep, trainStep, evalStep,
        StepSpec("c", "pipeline_clean",
          Map("train" -> "train", "eval" -> "eval"), Map(params: _*)))),
        Seq("c"))("c")
      spark.read.parquet(s"$wh/$imp")
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // defaults through the registry == the declared l22 rows exactly
    val defaults = clean()
    val declared = graft.ops.TextOps.l22PipelineClean(spark, sfDir)
    assert(ids(defaults) == ids(declared),
      "registry defaults diverge from the declared l22 query")
    assert(defaults.count() > 0)
    // each tightened gate can only SHRINK the kept set
    assert(ids(clean("min_quality" -> "0.6")).subsetOf(ids(defaults)),
      "raising min_quality must only drop docs")
    assert(ids(clean("max_dup_tri" -> "0.05")).subsetOf(ids(defaults)),
      "lowering max_dup_tri must only drop docs")
    assert(ids(clean("min_shared" -> "1")).subsetOf(ids(defaults)),
      "flag-on-any-overlap decontamination must only drop docs")
  }

  test("embed_dedup transform: cosine threshold is a live registry knob") {
    val wh = warehouse("graft_wh_ed")
    val runner = new Runner(spark, Transforms.standard(), wh)
    def spec(theta: String) = PipelineSpec(Seq(
      StepSpec("emb", "source", params = Map("dir" -> sfDir, "table" -> "embeddings")),
      StepSpec("groups", "embed_dedup", Map("embeddings" -> "emb"),
        Map("theta" -> theta))))
    val n = graft.core.Tables.embeddings(spark, sfDir).count()
    // fixture-calibrated θ: some vectors group (matches declared l6b)
    val lo = runner.execute(spec("0.35"), Seq("groups"))
    val loDf = spark.read.parquet(s"$wh/${lo("groups")}")
    assert(loDf.count() == n)
    val loCanon = loDf.where(col("is_canonical")).count()
    assert(loCanon < n, s"expected merges at theta=0.35, canon=$loCanon")
    // production-strength θ: synthetic embeddings have no 0.99-cos twins,
    // every vector stays canonical; different param -> different impression
    val hi = runner.execute(spec("0.99"), Seq("groups"))
    assert(hi("groups") != lo("groups"))
    val hiDf = spark.read.parquet(s"$wh/${hi("groups")}")
    assert(hiDf.where(col("is_canonical")).count() == n)
  }

  test("tfidf and bm25 transforms: ranking knobs are live through the registry") {
    val wh = warehouse("graft_wh_ir")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val docsStep = StepSpec("docs", "source",
      params = Map("dir" -> sfDir, "table" -> "documents"))
    // tfidf: k grows the per-doc term list
    def tfidfSpec(k: Int) = PipelineSpec(Seq(docsStep,
      StepSpec("terms", "tfidf", Map("docs" -> "docs"), Map("k" -> k.toString))))
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    val k3 = runner.execute(tfidfSpec(3), Seq("terms"))
    assert(spark.read.parquet(s"$wh/${k3("terms")}").count() == 3 * nDocs)
    val k5 = runner.execute(tfidfSpec(5), Seq("terms"))
    assert(k5("terms") != k3("terms"), "different k must be a different impression")
    assert(spark.read.parquet(s"$wh/${k5("terms")}").count() == 5 * nDocs)
    // bm25: the query is a caller-supplied param; a term outside the
    // fixture vocabulary matches nothing
    def bm25Spec(terms: String) = PipelineSpec(Seq(docsStep,
      StepSpec("scored", "bm25", Map("docs" -> "docs"), Map("terms" -> terms))))
    val hit = runner.execute(bm25Spec("data, table"), Seq("scored"))
    assert(spark.read.parquet(s"$wh/${hit("scored")}").count() > 0)
    val miss = runner.execute(bm25Spec("zzzunseen"), Seq("scored"))
    assert(miss("scored") != hit("scored"))
    assert(spark.read.parquet(s"$wh/${miss("scored")}").count() == 0)
  }

  test("temperature_mix transform: alpha flattens the mixture toward the tail") {
    val wh = warehouse("graft_wh_tm")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val docsStep = StepSpec("docs", "source",
      params = Map("dir" -> sfDir, "table" -> "documents"))
    def spec(alpha: String) = PipelineSpec(Seq(docsStep,
      StepSpec("mix", "temperature_mix", Map("docs" -> "docs"),
        Map("alpha" -> alpha))))
    // alpha=1 keeps natural proportions: every source's keep-rate is the
    // target fraction, so weights are proportional to size
    val nat = runner.execute(spec("1.0"), Seq("mix"))
    val natDf = spark.read.parquet(s"$wh/${nat("mix")}")
    assert(natDf.where(col("thr") =!= 500000L).count() == 0,
      "alpha=1 must give every source the uniform target rate")
    // alpha->0 pushes toward uniform-over-sources weights: tail sources'
    // rates rise to the cap; different alpha = different impression
    val flat = runner.execute(spec("0.1"), Seq("mix"))
    assert(flat("mix") != nat("mix"))
    assert(spark.read.parquet(s"$wh/${flat("mix")}").count() == natDf.count())
  }

  test("manifest lists steps with materialization state; vacuum GCs stale runs") {
    val wh = warehouse("graft_wh6")
    val runner = new Runner(spark, Transforms.standard(), wh)
    runner.execute(diamond, Seq("join"))
    val m = runner.manifest(diamond).collect()
    assert(m.length == 4)
    assert(m.forall(r => r.getAs[String]("path").nonEmpty && r.getAs[Long]("rows") >= 0))

    // a changed spec leaves the old impressions stale; vacuum removes them
    val changed = PipelineSpec(diamond.steps.map {
      case s if s.id == "left" =>
        s.copy(params = Map("sql" -> "SELECT n_regionkey, count(*)+5 AS n FROM t GROUP BY 1"))
      case s => s
    })
    new Runner(spark, Transforms.standard(), wh).execute(changed, Seq("join"))
    val deleted = runner.vacuum(Seq(changed)).sorted
    val oldLeft = runner.impressionId(diamond, "left")
    val oldJoin = runner.impressionId(diamond, "join")
    assert(deleted == Seq(oldLeft, oldJoin).sorted)
    // live outputs intact
    assert(new Runner(spark, Transforms.standard(), wh)
      .collect(changed, "join").get.rows == 5)
  }

  test("status is durable per impression: failures survive restart, edits start raw") {
    val wh = warehouse("graft_wh7")
    val bad = PipelineSpec(Seq(
      StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "nation")),
      StepSpec("boom", "sql", Map("t" -> "src"), Map("sql" -> "SELECT no_such FROM t"))))
    assertThrows[RuntimeException](
      new Runner(spark, Transforms.standard(), wh).execute(bad, Seq("boom")))

    // a NEW runner on the same warehouse sees the persisted failure and,
    // since failed is re-admittable, retries it (and fails again)
    val r2 = new Runner(spark, Transforms.standard(), wh)
    assertThrows[RuntimeException](r2.execute(bad, Seq("boom")))
    assert(r2.status("boom") == StepStatus.Failed)
    assert(r2.run("boom").durationMs.isDefined)

    // editing the step content-addresses to a fresh impression -> runs clean
    val fixed = PipelineSpec(bad.steps.map {
      case s if s.id == "boom" =>
        s.copy(params = Map("sql" -> "SELECT count(*) AS n FROM t"))
      case s => s
    })
    val r3 = new Runner(spark, Transforms.standard(), wh)
    r3.execute(fixed, Seq("boom"))
    assert(r3.status("boom") == StepStatus.Finished)
  }

  test("impressionId is linear on diamond ladders (no exponential recursion)") {
    // 60-step ladder, each step depending on the two previous — a naive
    // recursive hash is ~2^60 operations; the memoized one is instant
    val steps = (0 until 60).map { i =>
      val inputs = Seq(i - 1, i - 2).filter(_ >= 0)
        .zipWithIndex.map { case (d, j) => s"in$j" -> s"s$d" }.toMap
      StepSpec(s"s$i", "identity", inputs)
    }
    val spec = PipelineSpec(steps)
    val t0 = System.nanoTime()
    val ids = spec.impressionIds
    assert(ids.size == 60 && ids.values.toSet.size == 60)
    assert((System.nanoTime() - t0) < 2e9, "impression hashing not linear")
  }

  test("containment_dedup and novelty transforms: shingle knobs live through the registry") {
    val wh = warehouse("graft_wh_cn")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val docsStep = StepSpec("docs", "source",
      params = Map("dir" -> sfDir, "table" -> "documents"))
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    // tau=0.6 drops the fixture's contained docs; tau>1 is unreachable
    // (containment tops out at 1.0) so every doc survives — the knob is
    // live and each setting is its own impression
    def cdSpec(tau: String) = PipelineSpec(Seq(docsStep,
      StepSpec("clean", "containment_dedup", Map("docs" -> "docs"),
        Map("tau" -> tau))))
    val drop = runner.execute(cdSpec("0.6"), Seq("clean"))
    val dropN = spark.read.parquet(s"$wh/${drop("clean")}").count()
    assert(dropN < nDocs, s"expected drops at tau=0.6, kept $dropN of $nDocs")
    val keep = runner.execute(cdSpec("1.01"), Seq("clean"))
    assert(keep("clean") != drop("clean"))
    assert(spark.read.parquet(s"$wh/${keep("clean")}").count() == nDocs)
    // novelty: one score row per doc, scores in [0,1], and the corpus's
    // near-dups force at least one doc below 1
    def nvSpec(n: Int) = PipelineSpec(Seq(docsStep,
      StepSpec("scores", "novelty", Map("docs" -> "docs"),
        Map("n" -> n.toString))))
    val n3 = runner.execute(nvSpec(3), Seq("scores"))
    val scores = spark.read.parquet(s"$wh/${n3("scores")}")
    assert(scores.count() == nDocs)
    assert(scores.where(col("novelty") < 0 || col("novelty") > 1).count() == 0)
    assert(scores.where(col("novelty") < 1.0).count() > 0,
      "near-dup fixture docs must score below 1")
    assert(runner.execute(nvSpec(5), Seq("scores"))("scores") != n3("scores"),
      "different shingle length must be a different impression")
  }

  test("merge_upsert and transitions transforms through the registry") {
    val wh = warehouse("graft_wh_mt")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val dummy = StepSpec("d0", "source", params = Map("dir" -> sfDir, "table" -> "region"))
    // CDC merge: update k=2, delete k=3, insert k=4
    val mergeSpec = PipelineSpec(Seq(dummy,
      StepSpec("snap", "sql", Map("d" -> "d0"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(1 AS BIGINT), 'a', 1, false), (CAST(2 AS BIGINT), 'b', 1, false), " +
          "(CAST(3 AS BIGINT), 'c', 1, false)) AS t(k, payload, v, del)"))),
      StepSpec("chg", "sql", Map("d" -> "d0"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(2 AS BIGINT), 'B', 2, false), (CAST(3 AS BIGINT), 'c', 2, true), " +
          "(CAST(4 AS BIGINT), 'd', 2, false)) AS t(k, payload, v, del)"))),
      StepSpec("merged", "merge_upsert",
        Map("snapshot" -> "snap", "changes" -> "chg"), Map("key" -> "k"))))
    val imp = runner.execute(mergeSpec, Seq("merged"))
    val merged = spark.read.parquet(s"$wh/${imp("merged")}")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(merged == Map(1L -> "a", 2L -> "B", 4L -> "d"), merged.toString)
    // transitions over the fixture event streams: per-user adjacent steps
    // mean sum(n_steps) = n_events - n_users, and each from-state's
    // probabilities sum to 1
    val tmSpec = PipelineSpec(Seq(
      StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events")),
      StepSpec("tm", "transitions", Map("events" -> "ev"))))
    val tmImp = runner.execute(tmSpec, Seq("tm"))
    val tm = spark.read.parquet(s"$wh/${tmImp("tm")}")
    val ev = graft.core.Tables.events(spark, sfDir)
    val expectedSteps = ev.count() - ev.select("user_id").distinct().count()
    assert(tm.agg(org.apache.spark.sql.functions.sum(col("n_steps")))
      .head().getLong(0) == expectedSteps)
    val pSums = tm.groupBy(col("from_type"))
      .agg(org.apache.spark.sql.functions.sum(col("p")).as("ps"))
      .collect().map(_.getDouble(1))
    assert(pSums.nonEmpty && pSums.forall(s => math.abs(s - 1.0) < 1e-4), pSums.mkString(","))
  }

  test("gap_fill, pmi and quality_rank transforms: knobs live through the registry") {
    val wh = warehouse("graft_wh_gpq")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    val docsStep = StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    // gap_fill: a 2x-wider bucket roughly halves the spine, and silent
    // buckets materialize as zero rows (the fixture has idle hours)
    def gfSpec(bucket: String) = PipelineSpec(Seq(evStep,
      StepSpec("series", "gap_fill", Map("events" -> "ev"),
        Map("bucket" -> bucket))))
    val hourly = runner.execute(gfSpec("3600"), Seq("series"))
    val twoHourly = runner.execute(gfSpec("7200"), Seq("series"))
    assert(hourly("series") != twoHourly("series"))
    val hourlyDf = spark.read.parquet(s"$wh/${hourly("series")}")
    val twoHourlyN = spark.read.parquet(s"$wh/${twoHourly("series")}").count()
    assert(twoHourlyN < hourlyDf.count())
    assert(hourlyDf.where(col("n_events") === 0).count() > 0,
      "zero-filled silent buckets must materialize")
    // pmi: a wider window strictly grows the pair-event space
    def pmiSpec(win: Int) = PipelineSpec(Seq(docsStep,
      StepSpec("cooc", "pmi", Map("docs" -> "docs"), Map("win" -> win.toString))))
    def pairTotal(imp: Map[String, String]) =
      spark.read.parquet(s"$wh/${imp("cooc")}")
        .agg(org.apache.spark.sql.functions.sum(col("n_ab"))).head().getLong(0)
    val n1 = pairTotal(runner.execute(pmiSpec(1), Seq("cooc")))
    val n2 = pairTotal(runner.execute(pmiSpec(2), Seq("cooc")))
    assert(n1 < n2, s"win=1 pairs $n1 should be fewer than win=2 pairs $n2")
    // quality_rank: a smaller keep fraction keeps fewer docs per source
    def qrSpec(frac: String) = PipelineSpec(Seq(docsStep,
      StepSpec("kept", "quality_rank", Map("docs" -> "docs"), Map("frac" -> frac))))
    val half = spark.read.parquet(
      s"$wh/${runner.execute(qrSpec("0.5"), Seq("kept"))("kept")}").count()
    val quarter = spark.read.parquet(
      s"$wh/${runner.execute(qrSpec("0.25"), Seq("kept"))("kept")}").count()
    assert(quarter < half && quarter > 0)
  }

  test("snapshot_diff transform: added/removed/changed over arbitrary key/compare lists") {
    val wh = warehouse("graft_wh_sd")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val dummy = StepSpec("d0", "source", params = Map("dir" -> sfDir, "table" -> "region"))
    val spec = PipelineSpec(Seq(dummy,
      StepSpec("old", "sql", Map("d" -> "d0"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(1 AS BIGINT), 'a', 10), (CAST(2 AS BIGINT), 'b', 20), " +
          "(CAST(3 AS BIGINT), 'c', 30)) AS t(k, s, v)"))),
      StepSpec("new", "sql", Map("d" -> "d0"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(2 AS BIGINT), 'b', 20), (CAST(3 AS BIGINT), 'c', 99), " +
          "(CAST(4 AS BIGINT), 'd', 40)) AS t(k, s, v)"))),
      StepSpec("diff", "snapshot_diff", Map("old" -> "old", "new" -> "new"),
        Map("keys" -> "k", "compare" -> "s,v"))))
    val imp = runner.execute(spec, Seq("diff"))
    val rows = spark.read.parquet(s"$wh/${imp("diff")}")
      .select("k", "change").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "removed", 3L -> "changed", 4L -> "added"), rows.toString)
  }

  test("scd2 transform: hand-checked history from a VALUES change stream") {
    val wh = warehouse("graft_wh_scd2")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val dummy = StepSpec("d0", "source", params = Map("dir" -> sfDir, "table" -> "region"))
    // key 1: A (t1, t2 compressed) -> B (t3); key 2: single open row
    val spec = PipelineSpec(Seq(dummy,
      StepSpec("chg", "sql", Map("d" -> "d0"),
        Map("sql" -> ("SELECT * FROM (VALUES " +
          "(CAST(1 AS BIGINT), CAST(101 AS BIGINT), TIMESTAMP '2024-01-01 00:00:00', 'A'), " +
          "(CAST(1 AS BIGINT), CAST(102 AS BIGINT), TIMESTAMP '2024-01-02 00:00:00', 'A'), " +
          "(CAST(1 AS BIGINT), CAST(103 AS BIGINT), TIMESTAMP '2024-01-03 00:00:00', 'B'), " +
          "(CAST(2 AS BIGINT), CAST(201 AS BIGINT), TIMESTAMP '2024-01-05 00:00:00', 'Z')) " +
          "AS t(k, id, ts, attr)"))),
      StepSpec("hist", "scd2", Map("changes" -> "chg"),
        Map("key" -> "k", "ts" -> "ts", "tie" -> "id", "attr" -> "attr"))))
    val imp = runner.execute(spec, Seq("hist"))
    val rows = spark.read.parquet(s"$wh/${imp("hist")}")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    val day = 86400L
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(rows == Set(
      (1L, "A", t0, Some(t0 + 2 * day), false),
      (1L, "B", t0 + 2 * day, None, true),
      (2L, "Z", t0 + 4 * day, None, true)), rows.toString)
  }

  test("time_band_join, event_paths, frame_dup, semdedup: knobs live through the registry") {
    val wh = warehouse("graft_wh_r8")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    val docsStep = StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    val embStep = StepSpec("emb", "source", params = Map("dir" -> sfDir, "table" -> "embeddings"))
    // time_band_join: a wider band can only find MORE index rows per probe
    def tbSpec(band: String) = PipelineSpec(Seq(evStep,
      StepSpec("probe", "sql", Map("e" -> "ev"),
        Map("sql" -> "SELECT event_id, unix_micros(ts) AS ts_us FROM e WHERE event_type = 'purchase'")),
      StepSpec("index", "sql", Map("e" -> "ev"),
        Map("sql" -> "SELECT unix_micros(ts) AS ts_us FROM e WHERE event_type = 'view'")),
      StepSpec("near", "time_band_join", Map("probe" -> "probe", "index" -> "index"),
        Map("id" -> "event_id", "band" -> band))))
    def bandTotal(imp: Map[String, String]) =
      spark.read.parquet(s"$wh/${imp("near")}")
        .agg(org.apache.spark.sql.functions.sum(col("n_in_band"))).head().getLong(0)
    val narrow = bandTotal(runner.execute(tbSpec("60"), Seq("near")))
    val wide = bandTotal(runner.execute(tbSpec("600"), Seq("near")))
    assert(narrow < wide, s"band=60s total $narrow should be < band=600s total $wide")
    // event_paths: k=1 paths are single steps (no '>'), k=3 paths have them
    def epSpec(k: String) = PipelineSpec(Seq(evStep,
      StepSpec("paths", "event_paths", Map("events" -> "ev"), Map("k" -> k, "top" -> "50"))))
    val p1 = spark.read.parquet(
      s"$wh/${runner.execute(epSpec("1"), Seq("paths"))("paths")}")
    assert(p1.where(col("path").contains(">")).count() == 0)
    val p3 = spark.read.parquet(
      s"$wh/${runner.execute(epSpec("3"), Seq("paths"))("paths")}")
    assert(p3.where(col("path").contains(">")).count() > 0)
    // frame_dup: a stricter min_shared keeps a subset of the pairs
    def fdSpec(minShared: String) = PipelineSpec(Seq(docsStep,
      StepSpec("media", "sql", Map("d" -> "docs"),
        Map("sql" -> "SELECT doc_id, encode(text, 'UTF-8') AS payload FROM d")),
      StepSpec("dups", "frame_dup", Map("media" -> "media"),
        Map("min_shared" -> minShared))))
    val loose = spark.read.parquet(
      s"$wh/${runner.execute(fdSpec("1"), Seq("dups"))("dups")}").count()
    val strict = spark.read.parquet(
      s"$wh/${runner.execute(fdSpec("3"), Seq("dups"))("dups")}").count()
    assert(strict <= loose && loose > 0, s"strict=$strict loose=$loose")
    // semdedup: fixture-calibrated tau drops some vectors; tau > 1 drops none
    def sdSpec(tau: String) = PipelineSpec(Seq(embStep,
      StepSpec("kept", "semdedup", Map("embeddings" -> "emb"), Map("tau" -> tau))))
    val n = graft.core.Tables.embeddings(spark, sfDir).count()
    val keptLo = spark.read.parquet(
      s"$wh/${runner.execute(sdSpec("0.35"), Seq("kept"))("kept")}").count()
    val keptHi = spark.read.parquet(
      s"$wh/${runner.execute(sdSpec("1.01"), Seq("kept"))("kept")}").count()
    assert(keptLo < n && keptHi == n, s"n=$n keptLo=$keptLo keptHi=$keptHi")
  }

  test("proto_prune, group_split, conversion_lag: knobs live through the registry") {
    val wh = warehouse("graft_wh_r8b")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    val docsStep = StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    val embStep = StepSpec("emb", "source", params = Map("dir" -> sfDir, "table" -> "embeddings"))
    // proto_prune: frac=0.5 keeps ceil(half) per cell; frac=1.0 keeps all
    def ppSpec(frac: String) = PipelineSpec(Seq(embStep,
      StepSpec("kept", "proto_prune", Map("embeddings" -> "emb"), Map("frac" -> frac))))
    val nEmb = graft.core.Tables.embeddings(spark, sfDir).count()
    val half = spark.read.parquet(
      s"$wh/${runner.execute(ppSpec("0.5"), Seq("kept"))("kept")}").count()
    val all = spark.read.parquet(
      s"$wh/${runner.execute(ppSpec("1.0"), Seq("kept"))("kept")}").count()
    assert(all == nEmb && half >= nEmb / 2 && half < nEmb, s"n=$nEmb half=$half all=$all")
    // group_split: folds partition the docs and track the train percent
    def gsSpec(train: String) = PipelineSpec(Seq(docsStep,
      StepSpec("groups", "sql", Map("d" -> "docs"),
        Map("sql" -> "SELECT doc_id, doc_id AS component FROM d")),
      StepSpec("folds", "group_split", Map("groups" -> "groups"),
        Map("train" -> train, "val" -> "10"))))
    def foldCounts(train: String) = spark.read.parquet(
        s"$wh/${runner.execute(gsSpec(train), Seq("folds"))("folds")}")
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    val c80 = foldCounts("80")
    assert(c80.values.sum == nDocs, c80.toString)
    val c40 = foldCounts("40")
    assert(c40.values.sum == nDocs && c40.getOrElse("train", 0L) < c80.getOrElse("train", 0L),
      s"c40=$c40 c80=$c80")
    // conversion_lag: the cap folds the tail into one bucket
    def clSpec(cap: String) = PipelineSpec(Seq(evStep,
      StepSpec("lag", "conversion_lag", Map("events" -> "ev"), Map("cap" -> cap))))
    val capped = spark.read.parquet(
      s"$wh/${runner.execute(clSpec("1"), Seq("lag"))("lag")}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val open = spark.read.parquet(
      s"$wh/${runner.execute(clSpec("48"), Seq("lag"))("lag")}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.keys.forall(_ <= 1) && capped.values.sum == open.values.sum,
      s"capped=$capped open=$open")
    assert(open.keys.max > 1, open.toString)
  }

  test("entropy, zipf, attribution, strat_sample: knobs live through the registry") {
    import org.apache.spark.sql.functions.log
    val wh = warehouse("graft_wh_r8c")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val docsStep = StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    val nSrc = graft.core.Tables.documents(spark, sfDir)
      .select(col("source")).distinct().count()
    // entropy: one row per doc, 0 ≤ H ≤ ln(n_types) (uniform bound)
    val ent = spark.read.parquet(s"$wh/${runner.execute(
      PipelineSpec(Seq(docsStep, StepSpec("h", "entropy", Map("docs" -> "docs")))),
      Seq("h"))("h")}")
    assert(ent.count() == nDocs)
    assert(ent.where(col("entropy") < -1e-9 ||
      col("entropy") > log(col("n_types").cast("double")) + 1e-6).count() == 0)
    // zipf: one row per source, slope strictly negative on ranked counts
    val z = spark.read.parquet(s"$wh/${runner.execute(
      PipelineSpec(Seq(docsStep, StepSpec("z", "zipf", Map("docs" -> "docs")))),
      Seq("z"))("z")}")
    assert(z.count() == nSrc)
    assert(z.where(col("zipf_slope") >= 0).count() == 0)
    // attribution: lookback=0 sends every purchase to 'direct' (no same-µs
    // touches exist in the fixture); purchase totals are conserved
    def att(lookback: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(evStep, StepSpec("att", "attribution",
          Map("events" -> "ev"), Map("lookback" -> lookback)))),
        Seq("att"))("att")}")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a0 = att("0"); val a24 = att("86400")
    assert(a0.keySet == Set("direct") && a0.values.sum == a24.values.sum,
      s"a0=$a0 a24=$a24")
    assert(a24.size > 1, a24.toString)
    // strat_sample: exactly k rows per stratum, k moves with the param
    def strat(k: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(docsStep, StepSpec("s5", "strat_sample",
          Map("rows" -> "docs"), Map("k" -> k)))),
        Seq("s5"))("s5")}")
    val s3 = strat("3").groupBy(col("source")).count().collect()
    assert(s3.length == nSrc && s3.forall(_.getLong(1) == 3L))
    assert(strat("7").count() == 7L * nSrc)
  }

  test("funnel_steps and source_kl: knobs live through the registry") {
    val wh = warehouse("graft_wh_r8d")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    val docsStep = StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    // funnel_steps: a 2-step funnel has no s3 column; depth ≤ steps; the
    // 3-step funnel's s2 population is a superset of its s3 population
    def funnel(steps: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(evStep, StepSpec("f", "funnel_steps",
          Map("events" -> "ev"), Map("steps" -> steps)))),
        Seq("f"))("f")}")
    val two = funnel("signup,purchase")
    assert(two.columns.toSet - "_impression_id" ==
      Set("user_id", "s1_us", "s2_us", "depth"))
    assert(two.where(col("depth") > 2).count() == 0)
    val three = funnel("signup,view,purchase")
    val n3 = three.where(col("s3_us").isNotNull).count()
    val n2 = three.where(col("s2_us").isNotNull).count()
    assert(n3 <= n2 && n2 <= three.count(), s"n3=$n3 n2=$n2")
    // the ordering constraint binds: each step's ts is >= the previous
    assert(three.where(col("s2_us") < col("s1_us") ||
      col("s3_us") < col("s2_us")).count() == 0)
    // skyline: direction knobs flip the front (min/max vs min/min)
    val partStep = StepSpec("part", "source", params = Map("dir" -> sfDir, "table" -> "part"))
    def sky(dir2: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(partStep, StepSpec("sk", "skyline",
          Map("rows" -> "part"),
          Map("c1" -> "p_retailprice", "c2" -> "p_size", "dir2" -> dir2)))),
        Seq("sk"))("sk")}")
    val maxFront = sky("max").select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    val minFront = sky("min").select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    assert(maxFront.nonEmpty && minFront.nonEmpty && maxFront != minFront,
      s"max=$maxFront min=$minFront")
    // source_kl: KL >= 0 (Gibbs), one row per source
    val kl = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(docsStep, StepSpec("k", "source_kl", Map("docs" -> "docs")))),
        Seq("k"))("k")}")
    val nSrc2 = graft.core.Tables.documents(spark, sfDir)
      .select(col("source")).distinct().count()
    assert(kl.count() == nSrc2)
    assert(kl.where(col("kl") < -1e-9).count() == 0)
    // ks_drift: one row per source, 0 ≤ D ≤ 1 (it's a sup of ECDF gaps)
    val ks = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(docsStep, StepSpec("ks", "ks_drift", Map("docs" -> "docs")))),
        Seq("ks"))("ks")}")
    assert(ks.count() == nSrc2)
    assert(ks.where(col("ks") < -1e-9 || col("ks") > 1.0 + 1e-9).count() == 0)
  }

  test("freshness and weighted_sample: knobs live through the registry") {
    val wh = warehouse("graft_wh_r8e")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    val docsStep = StepSpec("docs", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    // freshness: key knob switches the report's grain; invariants hold
    def fresh(key: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(evStep, StepSpec("fr", "freshness",
          Map("events" -> "ev"), Map("key" -> key)))),
        Seq("fr"))("fr")}")
    val byType = fresh("event_type")
    assert(byType.count() == 5)
    assert(byType.where(col("active_hours") > col("span_hours") ||
      col("completeness") > 1.0 || col("staleness_hours") < 0).count() == 0)
    assert(fresh("user_id").count() ==
      graft.core.Tables.events(spark, sfDir).select(col("user_id")).distinct().count())
    // weighted_sample: k knob pins the sample size; weights must be the
    // chosen column
    def ws(k: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(docsStep, StepSpec("ws", "weighted_sample",
          Map("rows" -> "docs"), Map("w" -> "n_chars", "k" -> k)))),
        Seq("ws"))("ws")}")
    assert(ws("10").count() == 10 && ws("100").count() == 100)
  }

  test("stale persisted 'running' status demotes to raw and re-executes") {
    val wh = warehouse("graft_wh8")
    val spec = PipelineSpec(Seq(
      StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "region"))))
    val imp = spec.impressionIds("src")
    // simulate a crash mid-step: persisted running, no materialized output
    val statusDir = java.nio.file.Paths.get(wh, "_status")
    Files.createDirectories(statusDir)
    Files.write(statusDir.resolve(s"$imp.json"),
      """{"status": "running", "started_at": 1}""".getBytes)
    val runner = new Runner(spark, Transforms.standard(), wh)
    runner.execute(spec, Seq("src"))
    assert(runner.status("src") == StepStatus.Finished)
    assert(runner.collect(spec, "src").get.rows == 5)
  }

  test("lineage stamping (A26): each output carries exactly its own impression id") {
    val wh = warehouse("graft_wh10")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val imps = runner.execute(diamond, Seq("join"))
    diamond.steps.foreach { s =>
      val df = spark.read.parquet(s"$wh/${imps(s.id)}")
      val stamps = df.select(Runner.LineageCol).distinct()
        .collect().map(_.getString(0)).toSeq
      // one stamp per output = the producing impression; the join's output
      // carries ONLY its own stamp, proving inputs are served unstamped
      assert(stamps == Seq(imps(s.id)), s"step ${s.id}")
    }
    // collect surfaces the stamp and the schema includes the lineage column
    val art = runner.collect(diamond, "join").get
    assert(art.impression == imps("join"))
    assert(art.schemaDDL.contains(Runner.LineageCol))
  }

  test("admission is atomic: concurrent executes of one spec write once, no failures") {
    val wh = warehouse("graft_wh11")
    val runner = new Runner(spark, Transforms.standard(), wh)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // N racing executes share every impression; the CAS claim admits one
    // writer per impression and the rest skip — racing delete-vs-write on
    // the same output dir would throw here without it
    val futs = (1 to 4).map(_ => Future(runner.execute(diamond, Seq("join"))))
    val results = Await.result(Future.sequence(futs), 120.seconds)
    val imps = results.head
    assert(results.forall(_ == imps))
    val out = spark.read.parquet(s"$wh/${imps("join")}")
    assert(out.count() == 5)
  }

  test("admission is atomic ACROSS Runner instances sharing a warehouse") {
    // the HTTP facade builds one Runner per session profile over the same
    // warehouse — admission state must be shared process-wide or two
    // profile runners could both overwrite one impression's output dir
    val wh = warehouse("graft_wh12")
    val r1 = new Runner(spark, Transforms.standard(), wh)
    val r2 = new Runner(spark.newSession(), Transforms.standard(), wh)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futs = Seq(r1, r2).flatMap(r =>
      (1 to 2).map(_ => Future(r.execute(diamond, Seq("join")))))
    val results = Await.result(Future.sequence(futs), 120.seconds)
    assert(results.toSet.size == 1)
    val out = spark.read.parquet(s"$wh/${results.head("join")}")
    assert(out.count() == 5)
  }

  test("statusOf is keyed per impression: same step name, different specs") {
    val wh = warehouse("graft_wh9")
    val specA = PipelineSpec(Seq(
      StepSpec("load", "source", params = Map("dir" -> sfDir, "table" -> "region"))))
    val specB = PipelineSpec(Seq(
      StepSpec("load", "source", params = Map("dir" -> sfDir, "table" -> "nation"))))
    val runner = new Runner(spark, Transforms.standard(), wh)
    runner.execute(specA, Seq("load"))
    assert(runner.statusOf(specA, "load") == StepStatus.Finished)
    // spec B's identically-named step has its own (unrun) impression
    assert(runner.statusOf(specB, "load") == StepStatus.Raw)
  }

  test("runner profiles: same spec executes under two session profiles (A31)") {
    import graft.core.{SessionProfile, SessionProfiles}
    SessionProfiles.register(SessionProfile("prof4", "local[32]",
      Map("spark.sql.shuffle.partitions" -> "4")))
    SessionProfiles.register(SessionProfile("prof16", "local[32]",
      Map("spark.sql.shuffle.partitions" -> "16")))
    val baseParts = spark.conf.get("spark.sql.shuffle.partitions")
    val spec = PipelineSpec(Seq(
      StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "nation")),
      StepSpec("agg", "sql", Map("t" -> "src"),
        Map("sql" -> "SELECT n_regionkey, count(*) AS n FROM t GROUP BY 1"))))
    val counts = Seq("prof4" -> "4", "prof16" -> "16").map { case (pn, parts) =>
      val s = SessionProfiles.sessionFor(pn)
      // profile conf applied to an ISOLATED session (shared context)
      assert(s.conf.get("spark.sql.shuffle.partitions") == parts)
      val wh = warehouse(s"graft_wh_$pn")
      val runner = new Runner(s, Transforms.standard(), wh)
      val imps = runner.execute(spec, Seq("agg"))
      s.read.parquet(s"$wh/${imps("agg")}").count()
    }
    assert(counts == Seq(5L, 5L))
    // the base session's conf is untouched by profile resolution
    assert(spark.conf.get("spark.sql.shuffle.partitions") == baseParts)
    SessionProfiles.remove("prof4"); SessionProfiles.remove("prof16")
  }

  test("preview: head+tail with truncation marker") {
    val runner = new Runner(spark, Transforms.standard(),
      warehouse("graft_wh5"))
    import spark.implicits._
    val df = (1 to 50).toDF("x")
    val full = runner.preview(df.orderBy("x"), maxRows = 30)
    assert(!full.contains("truncated"))
    val cut = runner.preview(df.orderBy("x"), maxRows = 10)
    assert(cut.contains("[30 rows truncated]"))
    assert(cut.startsWith("[1]") && cut.endsWith("[50]"))
  }

  test("cross-JVM admission lease: live holder blocks, dead holder is stolen") {
    val wh = warehouse("graft_lease_wh")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val spec = PipelineSpec(Seq(StepSpec("load", "source",
      params = Map("dir" -> sfDir, "table" -> "region"))))
    val imp = runner.impressionId(spec, "load")
    val statusDir = java.nio.file.Paths.get(wh, "_status")
    Files.createDirectories(statusDir)
    val lease = statusDir.resolve(s"$imp.lock")

    // simulate ANOTHER JVM mid-run over the same warehouse: a live
    // process's pid in the lease file plus a persisted running record —
    // this runner must treat the impression as busy, NOT as a crash
    // leftover to demote and re-admit (the round-3 double-admission race)
    val foreign = new ProcessBuilder("sleep", "30").start()
    try {
      Files.writeString(lease, foreign.pid().toString)
      Files.writeString(statusDir.resolve(s"$imp.json"),
        """{"status": "running", "started_at": 1}""")
      runner.execute(spec, Seq("load"))
      assert(runner.materializedPath(spec, "load").isEmpty,
        "must not run while a live foreign process holds the lease")
      assert(Files.readString(lease) == foreign.pid().toString,
        "the foreign holder's lease must not be overwritten")
      assert(runner.statusOf(spec, "load") == StepStatus.Running,
        "the foreign in-flight state is surfaced, not demoted")
    } finally { foreign.destroyForcibly(); foreign.waitFor() }

    // the holder died: its lease is stale, the persisted non-terminal
    // record is now genuinely a crash leftover — stolen, run, released
    runner.execute(spec, Seq("load"))
    assert(runner.materializedPath(spec, "load").isDefined)
    assert(runner.statusOf(spec, "load") == StepStatus.Finished)
    assert(!Files.exists(lease), "the lease must not outlive the run")
  }

  test("pattern_match and kcore: knobs live through the registry") {
    val wh = warehouse("graft_wh_r8e")
    val runner = new Runner(spark, Transforms.standard(), wh)
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    // pattern_match: a single-letter pattern counts plain occurrences, so
    // its user set must be a superset of the stricter v[vc]*p users
    def pm(pattern: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(evStep, StepSpec("m", "pattern_match",
          Map("events" -> "ev"), Map("pattern" -> pattern)))),
        Seq("m"))("m")}")
    val runs = pm("v[vc]*p").select(col("user_id")).collect().map(_.getLong(0)).toSet
    val anyP = pm("p").select(col("user_id")).collect().map(_.getLong(0)).toSet
    assert(runs.nonEmpty && runs.subsetOf(anyP),
      s"browse-to-buy users must all have a purchase: ${(runs -- anyP).take(3)}")
    // kcore: a higher k can only shrink the surviving node set
    val liStep = StepSpec("li", "source", params = Map("dir" -> sfDir, "table" -> "lineitem"))
    val edgeStep = StepSpec("ed", "sql", Map("rows" -> "li"), Map("sql" ->
      ("SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb " +
        "FROM rows a JOIN rows b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey")))
    def core(k: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(liStep, edgeStep, StepSpec("c", "kcore",
          Map("edges" -> "ed"), Map("k" -> k)))),
        Seq("c"))("c")}")
    val k2 = core("2").select(col("node")).collect().map(_.getLong(0)).toSet
    val k4 = core("4").select(col("node")).collect().map(_.getLong(0)).toSet
    assert(k4.subsetOf(k2) && k2.nonEmpty, s"k=4 core must nest in k=2 core")
  }

  test("kcore/label_prop/pagerank converge=true through the registry reach fixpoints") {
    val wh = warehouse("graft_wh_r10a")
    val runner = new Runner(spark, Transforms.standard(), wh)
    def run(steps: Seq[StepSpec], out: String): org.apache.spark.sql.DataFrame =
      spark.read.parquet(s"$wh/${runner.execute(PipelineSpec(steps), Seq(out))(out)}")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // kcore converge=true on the REAL co-occurrence graph == the fixed
    // plan once it has enough rounds (the Seidman fixpoint)
    val liStep = StepSpec("li", "source", params = Map("dir" -> sfDir, "table" -> "lineitem"))
    val edgeStep = StepSpec("ed", "sql", Map("rows" -> "li"), Map("sql" ->
      ("SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb " +
        "FROM rows a JOIN rows b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey")))
    def kcore(extra: (String, String)*) = pairs(run(
      Seq(liStep, edgeStep, StepSpec("c", "kcore",
        Map("edges" -> "ed"), Map("k" -> "3") ++ extra)), "c"))
    val conv = kcore("converge" -> "true")
    val fixed = kcore("rounds" -> "12")
    assert(conv == fixed && conv.nonEmpty,
      s"registry converged k-core != 12-round fixpoint: " +
        s"only-conv=${(conv -- fixed).take(3)} only-fixed=${(fixed -- conv).take(3)}")

    // label_prop converge=true on a converging VALUES graph: fixpoint ==
    // the fixed plan at rounds R and R+1
    val triStep = StepSpec("tri", "sql", Map("rows" -> "li"), Map("sql" ->
      ("SELECT CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb FROM (VALUES " +
        "(1,2),(1,3),(2,3),(10,11),(10,12),(11,12)) AS t(sa, sb)")))
    def lpa(extra: (String, String)*) = pairs(run(
      Seq(liStep, triStep, StepSpec("lp", "label_prop",
        Map("edges" -> "tri"), Map(extra: _*))), "lp"))
    val lConv = lpa("converge" -> "true")
    assert(lpa("rounds" -> "4") == lpa("rounds" -> "5"),
      "fixed LPA rounds 4/5 disagree — reference not a fixpoint")
    assert(lConv == lpa("rounds" -> "4"),
      s"registry converged LPA != fixed fixpoint: $lConv")

    // pagerank converge=true: tight tol matches the analytic fixpoint of
    // the a<->b + c->a cycle at damping 0.5 (4/9, 7/18, 1/6)
    val cycStep = StepSpec("cyc", "sql", Map("rows" -> "li"), Map("sql" ->
      ("SELECT src, dst, CAST(w AS BIGINT) AS w FROM (VALUES " +
        "('a','b',1),('b','a',1),('c','a',1)) AS t(src, dst, w)")))
    val pr = run(Seq(liStep, cycStep, StepSpec("pr", "pagerank",
        Map("edges" -> "cyc"),
        Map("damping" -> "0.5", "converge" -> "true", "tol" -> "1e-9"))), "pr")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr("a") - 4.0 / 9) < 1e-7, pr.toString)
    assert(math.abs(pr("b") - 7.0 / 18) < 1e-7, pr.toString)
    assert(math.abs(pr("c") - 1.0 / 6) < 1e-7, pr.toString)
  }

  test("topk, linear_attribution and oov_rate: knobs live through the registry") {
    val wh = warehouse("graft_wh_r8f")
    val runner = new Runner(spark, Transforms.standard(), wh)
    // topk: k rows per group, k=1 set nests in k=3 set
    val ordStep = StepSpec("o", "source", params = Map("dir" -> sfDir, "table" -> "orders"))
    def top(k: String) = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(ordStep, StepSpec("t", "topk", Map("rows" -> "o"),
          Map("by" -> "o_custkey", "value" -> "o_totalprice",
            "id" -> "o_orderkey", "k" -> k)))),
        Seq("t"))("t")}")
    val t1 = top("1").select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val t3 = top("3").select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(t1.nonEmpty && t1.subsetOf(t3), "k=1 winners must be within k=3 winners")
    assert(top("3").groupBy(col("o_custkey")).count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0) <= 3)
    // linear_attribution: widening the lookback can only move credit OUT
    // of 'direct'
    val evStep = StepSpec("ev", "source", params = Map("dir" -> sfDir, "table" -> "events"))
    def direct(lookback: String): Long = {
      val df = spark.read.parquet(s"$wh/${runner.execute(
          PipelineSpec(Seq(evStep, StepSpec("a", "linear_attribution",
            Map("events" -> "ev"), Map("lookback" -> lookback)))),
          Seq("a"))("a")}")
      df.where(col("channel") === "direct").select(col("n_credits"))
        .collect().headOption.map(_.getLong(0)).getOrElse(0L)
    }
    assert(direct("60") >= direct("86400"),
      "a wider lookback must not create new direct conversions")
    // oov_rate: a frozen 1-word vocab makes almost everything OOV
    val docsStep = StepSpec("d", "source", params = Map("dir" -> sfDir, "table" -> "documents"))
    val vocabStep = StepSpec("v", "sql", Map("rows" -> "d"),
      Map("sql" -> "SELECT 'the' AS w"))
    val oov = spark.read.parquet(s"$wh/${runner.execute(
        PipelineSpec(Seq(docsStep, vocabStep, StepSpec("r", "oov_rate",
          Map("docs" -> "d", "vocab" -> "v"), Map.empty))),
        Seq("r"))("r")}")
    val bad = oov.where(col("n_oov") > col("n_tokens")).count()
    assert(bad == 0 && oov.agg(org.apache.spark.sql.functions.min(col("oov_permille"))).head().getLong(0) >= 500,
      "a 1-word vocab must leave most tokens OOV")
  }

  test("simhash_audit: sample_budget is a live registry knob; stride math") {
    // the stride math: smallest mod keeping the sample within budget,
    // never below 1 — the declared default (160) gives stride 4 on the
    // 500-doc verify fixture, stride 1 on the 50-doc sf0.001 one, and
    // stays O(budget²) as the corpus grows (stride 625 at 100k docs)
    import graft.ops.TextOps.l5cSampleMod
    assert(l5cSampleMod(500L, 160L) == 4L)
    assert(l5cSampleMod(50L, 160L) == 1L)
    assert(l5cSampleMod(5000L, 160L) == 32L)
    assert(l5cSampleMod(100000L, 160L) == 625L)
    assert(l5cSampleMod(0L, 160L) == 1L, "empty corpus must not divide by 0")
    assert(l5cSampleMod(10L, 0L) == 10L, "degenerate budget clamps to 1-doc sample")
    val wh = warehouse("graft_wh_sa")
    val runner = new Runner(spark, Transforms.standard(), wh)
    def audit(params: (String, String)*) = {
      val imp = runner.execute(PipelineSpec(Seq(
        StepSpec("a", "simhash_audit", Map.empty,
          Map(params: _*) + ("dir" -> sfDir)))), Seq("a"))("a")
      (imp, spark.read.parquet(s"$wh/$imp"))
    }
    val (impDefault, dflt) = audit()
    val declared = graft.ops.TextOps.l5cSimhashSummary(spark, sfDir)
    // the runner appends its impression column; compare declared columns
    assert(dflt.select(declared.columns.map(col): _*).collect().toSeq
        == declared.collect().toSeq,
      "registry defaults diverge from the declared l5c summary")
    // a tighter budget = a coarser stride = a DIFFERENT (smaller) audit
    // sample — the contract booleans must hold on it too
    val (impSmall, small) = audit("sample_budget" -> "8")
    assert(impSmall != impDefault, "the budget knob must reach the impression")
    val row = small.collect().head
    Seq("ordered_ok", "dedup_ok", "bound_ok", "sample_complete_ok",
      "sample_sound_ok", "jaccard_ok").foreach(n =>
      assert(row.getBoolean(row.fieldIndex(n)),
        s"contract boolean $n is FALSE under budget=8"))
    // the audit's own size column must be non-vacuous under the knob too
    assert(row.getLong(row.fieldIndex("n_sample")) > 0,
      "budget=8 audit sample is empty — the contract booleans are vacuous")
  }

  // Last on purpose: it sweeps the outputs of every transform kind the
  // tests above ran.
  test("footer schema and row count equal Spark's read of every output written above") {
    val dirs = warehouses.toSeq.flatMap { wh =>
      val listing = Files.list(java.nio.file.Paths.get(wh))
      try listing.iterator().asScala.filter(d =>
        !d.getFileName.toString.startsWith("_") && Files.exists(d.resolve("_SUCCESS"))).toSeq
      finally listing.close()
    }
    assert(dirs.size >= 50, s"only ${dirs.size} outputs: run the whole suite")
    dirs.foreach(FooterMetadataSpec.assertMatchesSparkRead(spark, _))
  }
}
