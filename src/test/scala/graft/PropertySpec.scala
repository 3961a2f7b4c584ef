package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws (SURVEY.md §5.2.3) on small generated frames.
  * Plain ScalaCheck generators driven from fixed seeds (the
  * scalatest-scalacheck bridge isn't an available dependency). */
class PropertySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val s = spark
  private def toDF(xs: List[(Int, String)]) = {
    import s.implicits._
    xs.toDF("k", "v")
  }

  private val rowsGen =
    Gen.listOfN(30, Gen.zip(Gen.choose(0, 5), Gen.oneOf("a", "b", "c")))

  /** 5 deterministic samples per law. */
  private def forAll(g: Gen[List[(Int, String)]])(f: List[(Int, String)] => Unit): Unit =
    (1 to 5).foreach { i =>
      f(g.apply(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil))
    }
  private def forAll(g1: Gen[List[(Int, String)]], g2: Gen[List[(Int, String)]])(
      f: (List[(Int, String)], List[(Int, String)]) => Unit): Unit =
    (1 to 5).foreach { i =>
      f(g1.apply(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil),
        g2.apply(Gen.Parameters.default, Seed(i.toLong + 100)).getOrElse(Nil))
    }
  private def whenever(b: Boolean)(f: => Unit): Unit = if (b) f

  test("unionByName commutes under count; union distinct is set union") {
    forAll(rowsGen, rowsGen) { (xs, ys) =>
      val (a, b) = (toDF(xs), toDF(ys))
      assert(a.unionByName(b).count() == b.unionByName(a).count())
      assert(a.unionByName(b).distinct().count() ==
        (xs.toSet ++ ys.toSet).size.toLong)
    }
  }

  test("semi + anti partition the left side") {
    forAll(rowsGen, rowsGen) { (xs, ys) =>
      val (a, b) = (toDF(xs), toDF(ys).select(col("k")).distinct())
      val semi = a.join(b, Seq("k"), "left_semi").count()
      val anti = a.join(b, Seq("k"), "left_anti").count()
      assert(semi + anti == xs.length.toLong)
    }
  }

  test("dropDuplicates is idempotent") {
    forAll(rowsGen) { xs =>
      val d1 = toDF(xs).dropDuplicates()
      assert(d1.count() == d1.dropDuplicates().count())
      assert(d1.count() == xs.toSet.size.toLong)
    }
  }

  test("windowed running sum telescopes to group total") {
    import org.apache.spark.sql.expressions.Window
    forAll(rowsGen) { xs =>
      whenever(xs.nonEmpty) {
        val df = toDF(xs.zipWithIndex.map { case ((k, v), i) => (k, s"$v$i") })
        val w = Window.partitionBy("k").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val last = df.withColumn("rsum", sum(lit(1)).over(w))
          .groupBy(col("k")).agg(max(col("rsum")).as("final"))
        val direct = df.groupBy(col("k")).agg(count(lit(1)).as("n"))
        val joined = last.join(direct, "k")
          .where(col("final") =!= col("n")).count()
        assert(joined == 0)
      }
    }
  }

  test("exceptAll removes multiplicities exactly") {
    forAll(rowsGen, rowsGen) { (xs, ys) =>
      val got = toDF(xs).exceptAll(toDF(ys)).count()
      val want = xs.groupBy(identity).map { case (row, occ) =>
        math.max(0, occ.size - ys.count(_ == row))
      }.sum
      assert(got == want.toLong)
    }
  }

  test("connectedComponents equals brute-force union-find on random graphs") {
    import s.implicits._
    // the shared CC engine under l5e/l6b, checked against a driver-side
    // union-find on random graphs (chains force multiple hash-to-min
    // rounds, so the convergence + lineage-truncation path is exercised)
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val ids = (0L until n).toList
      val edges = List.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // brute-force union-find
      val parent = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = ids.map(i => i -> find(i.toInt).toLong).toMap
      val got = graft.ops.Graphs.connectedComponents(
          ids.toDF("id"), edges.toDF("da", "db"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed: ${got.toSeq.diff(want.toSeq).take(5)}")
    }
  }

  test("sessionize equals brute-force grouping on adversarial gaps and ties") {
    import s.implicits._
    val gapUs = 1800L * 1000000
    // timestamps on a 10-minute grid: consecutive deltas hit EXACTLY the
    // 30-minute gap (same session — the boundary is strict-greater) as
    // well as ties (same µs, different event_id) and >gap splits
    val grid = 600L * 1000000
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 60).map { i =>
        (i.toLong,                                 // event_id (unique)
          rnd.nextInt(4).toLong,                   // user_id
          rnd.nextInt(12).toLong * grid,           // ts_us on the grid
          rnd.nextInt(10000) / 100.0)              // value, 2 decimals >= 0
      }
      // brute force: per user, order by (ts, id), split on gap > gapUs
      def cents(v: Double): Long =
        new java.math.BigDecimal(v * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      val want = rows.groupBy(_._2).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3, e._1))
        var sess = 0L
        var prev = Long.MinValue
        val tagged = sorted.map { e =>
          if (prev == Long.MinValue || e._3 - prev > gapUs) sess += 1
          prev = e._3
          (sess, e)
        }
        tagged.groupBy(_._1).map { case (sn, ses) =>
          val ts = ses.map(_._2._3)
          (u, sn, ses.size.toLong, ts.min, ts.max, ses.map(e => cents(e._2._4)).sum)
        }
      }.toSet
      val got = graft.ops.EventOps.sessionize(
          rows.toDF("event_id", "user_id", "ts_us", "value"), gapUs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(got == want, s"seed=$seed: spark-only=${(got -- want).take(3)} " +
        s"brute-only=${(want -- got).take(3)}")
    }
  }

  test("attribution equals brute force on ties and exact-lookback boundaries") {
    import s.implicits._
    val lookback = 1800L * 1000000
    val grid = 600L * 1000000 // deltas hit the boundary EXACTLY (>= keeps it)
    val types = Vector("click", "view", "purchase", "error")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 80).map { i =>
        (i.toLong, rnd.nextInt(4).toLong,
          types(rnd.nextInt(types.size)),
          rnd.nextInt(10).toLong * grid,     // ts_us — frequent exact ties
          rnd.nextInt(10000) / 100.0)
      }
      def cents(v: Double): Long =
        new java.math.BigDecimal(v * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      // brute force: per user, total order (ts, id); a purchase credits
      // the latest prior touch (any earlier row, same-µs smaller id
      // included) iff its ts is within the lookback (boundary inclusive)
      val want = rows.groupBy(_._2).toSeq.flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._4, e._1)).toVector
        sorted.zipWithIndex.collect { case ((_, _, "purchase", ts, v), i) =>
          val touch = sorted.take(i).filter(e => e._3 == "click" || e._3 == "view")
            .lastOption
          val ch = touch match {
            case Some(t) if t._4 >= ts - lookback => t._3
            case _ => "direct"
          }
          (ch, v)
        }
      }.groupBy(_._1).map { case (ch, vs) =>
        (ch, vs.size.toLong, vs.map(x => cents(x._2)).sum)
      }.toSet
      val got = graft.ops.EventOps.attributionFrames(
          rows.toDF("event_id", "user_id", "event_type", "ts_us", "value"),
          Seq("click", "view"), "purchase", lookback)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed=$seed: spark=$got brute=$want")
    }
  }

  test("2-D skyline equals brute-force dominance on duplicates and tied dims") {
    import s.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // small value grid → many exact ties and duplicate points; both
      // directions exercised (minimize x, maximize y)
      val rows = (0 until 60).map { i =>
        (i.toLong, rnd.nextInt(8).toDouble, rnd.nextInt(8).toLong)
      }
      val want = rows.filter { a =>
        !rows.exists(b => b._2 <= a._2 && b._3 >= a._3 &&
          (b._2 < a._2 || b._3 > a._3))
      }.toSet
      val got = graft.ops.SortsSets.skyline2dFrames(
          rows.toDF("id", "x", "y"), "x", minimize1 = true, "y", minimize2 = false)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got == want, s"seed=$seed: spark-only=${(got -- want).take(3)} " +
        s"brute-only=${(want -- got).take(3)}")
    }
  }

  test("ordered funnel equals brute force on tied and out-of-order step times") {
    import s.implicits._
    val steps = Seq("a", "b", "c")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 80).map { i =>
        (i.toLong, rnd.nextInt(5).toLong,
          Vector("a", "b", "c", "x")(rnd.nextInt(4)),
          rnd.nextInt(8).toLong * 1000000L)  // small grid → ties across steps
      }
      // brute force: t1 = min ts of step1; tk = min ts of step-k events
      // at-or-after t(k-1); absent steps truncate depth
      val want = rows.groupBy(_._2).toSeq.flatMap { case (u, es) =>
        val t1 = es.filter(_._3 == "a").map(_._4).minOption
        t1.map { start =>
          val ts = scala.collection.mutable.ArrayBuffer[Option[Long]](Some(start))
          for (st <- steps.drop(1)) {
            val prev = ts.last
            ts += prev.flatMap(p =>
              es.filter(e => e._3 == st && e._4 >= p).map(_._4).minOption)
          }
          (u, ts(0), ts(1), ts(2), 1L + ts.drop(1).count(_.isDefined))
        }
      }.toSet
      val got = graft.ops.EventOps.funnelStepsFrames(
          rows.toDF("event_id", "user_id", "event_type", "ts_us"), steps)
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).toSet
      assert(got == want, s"seed=$seed: spark-only=${(got -- want).take(3)} " +
        s"brute-only=${(want -- got).take(3)}")
    }
  }

  test("t16's DFA counts exactly like leftmost non-overlapping v[vc]*p regex matching") {
    // the streaming matcher's correctness rests on DFA ≡ regex; fuzz it
    // over random strings far nastier than the fixture (long runs, p
    // floods, run-into-run boundaries)
    val rnd = new scala.util.Random(7)
    val alphabet = "vcpse"
    val pat = java.util.regex.Pattern.compile("v[vc]*p")
    for (_ <- 1 to 2000) {
      val sq = (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(5))).mkString
      val m = pat.matcher(sq)
      var want = 0
      while (m.find()) want += 1
      // the t16 automaton, verbatim semantics
      var dfa = 0; var got = 0
      sq.foreach { c =>
        if (dfa == 0) dfa = if (c == 'v') 1 else 0
        else c match {
          case 'p' => got += 1; dfa = 0
          case 'v' | 'c' => dfa = 1
          case _ => dfa = 0
        }
      }
      assert(got == want, s"seq='$sq': dfa=$got regex=$want")
    }
  }

  test("phrase search counts overlapping occurrences like sliding-window brute force") {
    import s.implicits._
    // "a a a" contains TWO occurrences of "a a" — the overlap case a
    // naive split-on-phrase undercounts; plus phrase-at-end boundaries
    val docs = Seq(
      (1L, "a a a a b"),            // "a a" x3
      (2L, "x a a y a a"),          // x2
      (3L, "a b a b a"),            // 0
      (4L, "a a"),                  // 1, exactly the doc
      (5L, "b c d")                 // 0 (no partial emission)
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.phraseSearchFrames(docs, Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Seq(1L -> 3L, 2L -> 2L, 4L -> 1L).toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("topk_sketch equals brute-force top-k under any partitioning, with ties") {
    import s.implicits._
    graft.functions.TopKSketch.register(s)
    for (seed <- 1 to 3; parts <- Seq(1, 7)) {
      val rnd = new scala.util.Random(300 + seed)
      // heavy value ties force the id tiebreak through update AND merge
      val rows = (0 until 200).map { i =>
        (rnd.nextInt(8).toLong, rnd.nextInt(5) * 1.5, i.toLong)
      }
      val want = rows.groupBy(_._1).flatMap { case (g, es) =>
        es.map(e => (e._2, e._3)).sortBy(e => (-e._1, e._2)).take(3)
          .zipWithIndex.map { case ((v, id), pos) => (g, id, v, pos + 1) }
      }.toSet
      val got = rows.toDF("g", "v", "id").repartition(parts)
        .groupBy(col("g")).agg(expr("topk_sketch(v, id, 3)").as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("g"), col("t.id"), col("t.value"), (col("pos") + 1).cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(got == want, s"seed=$seed parts=$parts: " +
        s"spark-only=${(got -- want).take(3)} brute-only=${(want -- got).take(3)}")
    }
  }

  test("kcore peel equals brute-force synchronous peeling on random graphs") {
    import s.implicits._
    val k = 3
    val rounds = 3
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(200 + seed)
      val edges = (0 until 120).map { _ =>
        val a = rnd.nextInt(25).toLong; val b = rnd.nextInt(25).toLong; (a, b)
      }.filter(e => e._1 != e._2)
        .map(e => (e._1 min e._2, e._1 max e._2)).distinct
      // brute force: same synchronous semantics — drop ALL deg<k nodes at
      // once, recompute, `rounds` times; survivors keep residual degree
      var bi = edges.flatMap(e => Seq(e, e.swap))
      for (_ <- 1 to rounds) {
        val deg = bi.groupBy(_._1).map { case (n, es) => n -> es.size }
        val keep = deg.filter(_._2 >= k).keySet
        bi = bi.filter(e => keep(e._1) && keep(e._2))
      }
      val want = bi.groupBy(_._1).map { case (n, es) => (n, es.size.toLong) }.toSet
      val got = graft.ops.Graphs.kcorePeel(
          graft.ops.Graphs.adjacency(edges.toDF("sa", "sb")), k, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"seed=$seed: spark-only=${(got -- want).take(3)} " +
        s"brute-only=${(want -- got).take(3)}")
    }
  }

  test("e14 pattern match equals java-regex brute force on ties and overlaps") {
    import s.implicits._
    // adversarial sequences: µs ties broken by event_id, back-to-back
    // runs (vvpvp), and users with zero matches (must be filtered out)
    val types = Vector("view", "click", "purchase", "signup", "error")
    val pattern = "v[vc]*p"
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(100 + seed)
      val rows = (0 until 80).map { i =>
        (i.toLong, rnd.nextInt(5).toLong,
          rnd.nextInt(6).toLong * 1000000L, // heavy µs ties
          types(rnd.nextInt(types.size)))
      }
      val want = rows.groupBy(_._2).flatMap { case (u, es) =>
        val sq = es.sortBy(e => (e._3, e._1)).map(_._4.head).mkString
        val m = java.util.regex.Pattern.compile(pattern).matcher(sq)
        var n = 0
        while (m.find()) n += 1
        if (n > 0) Some((u, n)) else None
      }.toSet
      val got = graft.ops.EventOps.patternMatchFrames(
          rows.toDF("event_id", "user_id", "ts_us", "event_type"),
          by = "user_id", order = Seq("ts_us", "event_id"),
          typeCol = "event_type", pattern = pattern)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == want, s"seed=$seed: spark-only=${(got -- want).take(3)} " +
        s"brute-only=${(want -- got).take(3)}")
    }
  }

  test("KS drift equals brute-force ECDF max over the pooled support") {
    import s.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(500 + seed)
      // heavy length ties on purpose: the KS max often lands at a step
      // where only the OTHER sample moves, which is exactly what the
      // pooled-support grid has to get right
      val rows = (0 until 40).map { _ =>
        val src = "s" + rnd.nextInt(3)
        val n = 1 + rnd.nextInt(8)
        (src, Seq.fill(n)("w").mkString(" "))
      }
      val lens = rows.map { case (src, text) => (src, text.split(" ").length) }
      val support = lens.map(_._2).distinct.sorted
      val want = lens.groupBy(_._1).map { case (src, ls) =>
        val mine = ls.map(_._2)
        val rest = lens.filterNot(_._1 == src).map(_._2)
        val d = support.map { n =>
          math.abs(mine.count(_ <= n).toDouble / mine.size -
            rest.count(_ <= n).toDouble / rest.size)
        }.max
        src -> d
      }
      val got = graft.ops.TextOps.ksDriftFrames(rows.toDF("source", "text"))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got.keySet == want.keySet, s"seed=$seed sources: $got vs $want")
      for ((src, w) <- want)
        assert(math.abs(got(src) - w) < 2e-6,
          s"seed=$seed $src: spark=${got(src)} brute=$w")
    }
  }
}
