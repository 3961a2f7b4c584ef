package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Tables

/** The engine's standard transform library.
  *
  * `source` reads a fixture table; `query` invokes any declared operator
  * from [[graft.SparkEntry.queries]] — which makes the whole SURVEY.md §2B
  * inventory available as pipeline steps, the typed analogue of the
  * reference resolving a task's algorithm by impression lookup
  * (`/root/reference/Yuki/kernel/container_job.py:44-61`).
  */
object Transforms {
  // Temp-view names are session-global, and the runner executes steps from
  // a Future pool: two concurrent sql steps registering the same alias
  // could bind one run's SQL to the other's input. The lock covers only
  // registration + ANALYSIS (s.sql resolves views eagerly into the plan,
  // so the returned DataFrame is immune to later view replacement);
  // execution runs outside it.
  private val sqlAnalysisLock = new Object

  /** Normalize a caller-supplied ts column (TimestampType, NTZ, or a raw
    * long epoch — the Tables.microTs contract) and attach the exact-µs
    * `ts_us` long every event-time transform computes over. One shared
    * path so `pattern_match`/`funnel_steps`/`attribution`/`conversion_lag`
    * coerce inputs identically to `linear_attribution` (ADVICE r8: a long
    * epoch ts failed analysis in pattern_match but worked in the sibling). */
  private def withTsUs(df: org.apache.spark.sql.DataFrame,
      tsCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    Tables.microTs(df, tsCol).withColumn("ts_us", unix_micros(col(tsCol)))
  }

  def standard(): TransformRegistry = {
    val r = new TransformRegistry
    r.register("source") { (s, _, p) => Tables.load(s, p("dir"), p("table")) }
    r.register("query") { (s, _, p) => SparkEntry.queries(p("name"))(s, p("dir")) }
    r.register("identity") { (_, in, _) => in.values.head }
    r.register("sql") { (s, in, p) =>
      sqlAnalysisLock.synchronized {
        in.foreach { case (alias, df) => df.createOrReplaceTempView(alias) }
        s.sql(ParamMap(p.params).substitute(p("sql")))
      }
    }
    // benchmark decontamination with a REAL eval table (VERDICT r6 #4):
    // inputs {train, eval} are any (doc_id, text)-shaped steps; param n is
    // the shingle length (production scrubs run 8-13-grams; the declared
    // l17 query's 3 is only the oracle setting)
    // param hash_bits (64|128): the shingle join-key width — 64-bit
    // xxhash64 below ~10⁹ distinct shingles, 128-bit md5 at corpus scales
    // where the birthday term mints false intersections (TextOps.shingleKey)
    // param broadcast_eval (default true): the eval side is benchmark-
    // suite-sized by contract and broadcasts; pass false when the eval
    // frame grows with the corpus — the hint is ALWAYS honored, so an
    // unbounded eval side would otherwise force a corpus-fraction driver
    // broadcast (r19, tools/l17_eval.json)
    r.register("decontaminate") { (_, in, p) =>
      graft.ops.TextOps.decontaminateFrames(in("train"), in("eval"),
        p.params.getOrElse("n", "3").toInt,
        p.params.getOrElse("hash_bits", "64").toInt,
        p.params.getOrElse("broadcast_eval", "true").toBoolean)
    }
    // the composed cleaning pipeline (l22) with every gate threshold as a
    // param: min_quality/max_dup_tri (gate cut points), min_shared +
    // shingle n (decontamination). Inputs {train, eval} are any
    // (doc_id, source, text) steps; the declared l22 query pins the
    // fixture-calibrated 0.4/0.2/5/3 for the oracle
    r.register("pipeline_clean") { (_, in, p) =>
      graft.ops.TextOps.pipelineCleanFrames(in("train"), in("eval"),
        p.params.getOrElse("min_quality", "0.4").toDouble,
        p.params.getOrElse("max_dup_tri", "0.2").toDouble,
        p.params.getOrElse("min_shared", "5").toLong,
        p.params.getOrElse("n", "3").toInt)
    }
    // the l5c simhash audit with its row-budget knob live: param
    // sample_budget caps the brute-twin sample (the scan is
    // O(sample_budget²) at ANY corpus size — the declared l5c query
    // pins the default 160, stride 4 on the 500-doc verify fixture)
    r.register("simhash_audit") { (s, _, p) =>
      graft.ops.TextOps.l5cSimhashSummaryBudget(
        p.params.getOrElse("sample_budget", "160").toLong)(s, p("dir"))
    }
    // semantic dedup with a caller-chosen cosine threshold: input
    // {embeddings} is any (vec_id, label, embedding) step; the declared
    // l6b query's θ = 0.35 is fixture-calibrated — production semantic
    // dedup on real embeddings typically runs θ ≈ 0.95 (the default here)
    r.register("embed_dedup") { (_, in, p) =>
      graft.ops.VectorOps.embedDedupFrames(in("embeddings"),
        p.params.getOrElse("theta", "0.95").toDouble)
    }
    // corpus keyword extraction over any (doc_id, text) step; param k is
    // the number of rarest terms kept per doc (declared l23 pins k=3)
    r.register("tfidf") { (_, in, p) =>
      graft.ops.TextOps.tfidfFrames(in("docs"),
        p.params.getOrElse("k", "3").toInt)
    }
    // BM25 relevance of any (doc_id, text) step against a caller-supplied
    // query (comma-separated terms); k1/b default to the Robertson
    // constants the declared l24 pins
    r.register("bm25") { (_, in, p) =>
      graft.ops.TextOps.bm25Frames(in("docs"),
        p("terms").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        p.params.getOrElse("k1", "1.2").toDouble,
        p.params.getOrElse("b", "0.75").toDouble)
    }
    // temperature-weighted source mixing over any (doc_id, source) step;
    // alpha < 1 upweights tail sources (declared l25 pins 0.3/0.5)
    r.register("temperature_mix") { (_, in, p) =>
      graft.ops.TextOps.temperatureMixFrames(in("docs"),
        p.params.getOrElse("alpha", "0.3").toDouble,
        p.params.getOrElse("frac", "0.5").toDouble)
    }
    // containment dedup over any (doc_id, text, …) step: returns the
    // SURVIVORS (docs ≥tau contained in a strictly larger doc dropped);
    // n is the shingle length, tau the containment threshold
    r.register("containment_dedup") { (_, in, p) =>
      graft.ops.TextOps.containmentDedupFrames(in("docs"),
        p.params.getOrElse("n", "3").toInt,
        p.params.getOrElse("tau", "0.6").toDouble,
        p.params.getOrElse("hash_bits", "64").toInt)
    }
    // first-occurrence novelty scores for any (doc_id, text) step; same
    // hash_bits width knob as decontaminate/containment_dedup
    r.register("novelty") { (_, in, p) =>
      graft.ops.TextOps.noveltyFrames(in("docs"),
        p.params.getOrElse("n", "3").toInt,
        p.params.getOrElse("hash_bits", "64").toInt)
    }
    // CDC MERGE: inputs {snapshot, changes} share a schema carrying the
    // merge key, a version column, and a boolean delete-tombstone column;
    // latest version per key wins, tombstones drop out
    r.register("merge_upsert") { (_, in, p) =>
      graft.ops.Relational.mergeUpsertFrames(in("snapshot"), in("changes"),
        p("key"),
        p.params.getOrElse("version", "v"),
        p.params.getOrElse("delete", "del"))
    }
    // first-order transition matrix over any partitioned ordered stream;
    // order is a comma-separated column list
    r.register("transitions") { (_, in, p) =>
      graft.ops.EventOps.transitionsFrames(in("events"),
        p.params.getOrElse("by", "user_id"),
        p.params.getOrElse("order", "ts,event_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        p.params.getOrElse("type", "event_type"))
    }
    // dense per-key time series with zero rows minted for silent buckets;
    // bucket is the bucket width in SECONDS (declared e5 pins 3600)
    r.register("gap_fill") { (_, in, p) =>
      graft.ops.EventOps.gapFillFrames(in("events"),
        p.params.getOrElse("key", "user_id"),
        p.params.getOrElse("ts", "ts"),
        p.params.getOrElse("value", "value"),
        p.params.getOrElse("bucket", "3600").toLong * 1000000)
    }
    // skip-gram co-occurrence + PMI over any (doc_id, text) step; win is
    // the forward window in tokens (declared l30 pins 2)
    r.register("pmi") { (_, in, p) =>
      graft.ops.TextOps.pmiFrames(in("docs"),
        p.params.getOrElse("win", "2").toInt)
    }
    // per-source quality-rank cut: keep the top `frac` of every source by
    // the l11 quality blend (declared l31 pins 0.5)
    r.register("quality_rank") { (_, in, p) =>
      graft.ops.TextOps.qualityRankFrames(in("docs"),
        p.params.getOrElse("frac", "0.5").toDouble)
    }
    // table diff between two snapshot steps: added/removed/changed keys
    // with both sides' values; keys/compare are comma-separated lists
    r.register("snapshot_diff") { (_, in, p) =>
      def cols(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      graft.ops.Relational.snapshotDiffFrames(in("old"), in("new"),
        cols(p("keys")), cols(p("compare")))
    }
    // SCD2 history from any change stream: key/ts/tie/attr name the
    // dimension key, change timestamp, tie-break and tracked attribute
    r.register("scd2") { (_, in, p) =>
      graft.ops.Relational.scd2Frames(in("changes"),
        p("key"), p("ts"),
        p.params.getOrElse("tie", p("key")), p("attr"))
    }
    // banded trailing-window count join: inputs {probe, index}; probe
    // carries (id, ts µs-long), index (ts µs-long); band in seconds
    r.register("time_band_join") { (_, in, p) =>
      graft.ops.Relational.timeBandJoinFrames(in("probe"), in("index"),
        p("id"), p.params.getOrElse("probe_ts", "ts_us"),
        p.params.getOrElse("index_ts", "ts_us"),
        p.params.getOrElse("band", "60").toLong * 1000000,
        p.params.getOrElse("out", "n_in_band"))
    }
    // top-N first-k-step journey paths over any partitioned typed stream
    r.register("event_paths") { (_, in, p) =>
      graft.ops.EventOps.eventPathsFrames(in("events"),
        p.params.getOrElse("by", "user_id"),
        p.params.getOrElse("order", "ts,event_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        p.params.getOrElse("type", "event_type"),
        p.params.getOrElse("k", "5").toInt,
        p.params.getOrElse("top", "20").toInt)
    }
    // frame-fingerprint near-dup pairs over any (doc_id, payload) step;
    // declared mm4 pins frame=32/stride=100/df_cap=64/min_shared=3
    r.register("frame_dup") { (_, in, p) =>
      graft.ops.MultiModal.frameDupFrames(in("media"),
        p.params.getOrElse("frame", "32").toInt,
        p.params.getOrElse("stride", "100").toInt,
        p.params.getOrElse("df_cap", "64").toLong,
        p.params.getOrElse("min_shared", "3").toLong)
    }
    // SemDeDup survivors over any (vec_id, embedding) step; production
    // embeddings typically run tau ≈ 0.95 (the default here); k/iters
    // size the cluster quantizer trained on the input itself
    r.register("semdedup") { (_, in, p) =>
      graft.ops.VectorOps.semDedupFrames(in("embeddings"),
        p.params.getOrElse("tau", "0.95").toDouble,
        p.params.getOrElse("k", "16").toInt,
        p.params.getOrElse("iters", "3").toInt)
    }
    // prototypicality pruning (SSL-prototypes): keep the `frac` hardest
    // (least centroid-similar) members of every learned cluster
    r.register("proto_prune") { (_, in, p) =>
      graft.ops.VectorOps.protoPruneFrames(in("embeddings"),
        p.params.getOrElse("frac", "0.5").toDouble,
        p.params.getOrElse("k", "16").toInt,
        p.params.getOrElse("iters", "3").toInt)
    }
    // leakage-safe fold assignment over any (doc_id, component) grouping
    // (e.g. l5e/l6b output): whole dedup groups land in one fold;
    // train/val percents of the 100-way component hash (declared l38
    // pins 80/10)
    // near-dup grouping over any (doc_id, text) step: τ ≥ 0.3 exact
    // Jaccard pairs (the l5 inverted index) + the CC loop — the pipeline
    // form of l5e, feeding group_split (the declared composition is l50)
    // param hash_bits (64|128): the shingle join-key width (the
    // decontaminate/containment_dedup/novelty flag — TextOps.shingleKey)
    r.register("dedup_groups") { (_, in, p) =>
      graft.ops.TextOps.dedupGroupsFrames(in("docs"),
        p.params.getOrElse("hash_bits", "64").toInt)
    }
    r.register("group_split") { (_, in, p) =>
      graft.ops.TextOps.groupSplitFrames(in("groups"),
        p.params.getOrElse("train", "80").toInt,
        p.params.getOrElse("val", "10").toInt)
    }
    // training-sequence packing: fixed-length sequence index with
    // cross-boundary doc splits; len is the sequence length in tokens
    // (declared l42 pins 512)
    r.register("seq_pack") { (_, in, p) =>
      graft.ops.TextOps.seqPackFrames(in("docs"),
        p.params.getOrElse("len", "512").toLong)
    }
    // DSIR importance weights: score `source` docs by target-vs-source
    // n-gram distribution ratio (a real target corpus, not a holdout)
    // (same hash_bits knob: the n-gram count-join keys)
    r.register("dsir") { (_, in, p) =>
      graft.ops.TextOps.dsirFrames(in("source"), in("target"),
        p.params.getOrElse("hash_bits", "64").toInt)
    }
    // freshness / completeness observability report over any typed
    // stream (declared p10 pins events by event_type)
    r.register("freshness") { (_, in, p) =>
      graft.ops.Relational.freshnessFrames(in("events"),
        p.params.getOrElse("key", "event_type"),
        p.params.getOrElse("ts", "ts"))
    }
    // deterministic weighted sampling (A-Res): id/weight columns and the
    // sample size k (declared o7 pins doc_id / n_chars / 50)
    r.register("weighted_sample") { (_, in, p) =>
      graft.ops.SortsSets.weightedSampleFrames(in("rows"),
        p.params.getOrElse("id", "doc_id"),
        p("w"),
        p.params.getOrElse("k", "50").toInt)
    }
    // 2-D skyline (Pareto front) over any step: c1/c2 name the dims,
    // dir1/dir2 are min|max (declared o6 pins price min, size max)
    r.register("skyline") { (_, in, p) =>
      graft.ops.SortsSets.skyline2dFrames(in("rows"),
        p("c1"), p.params.getOrElse("dir1", "min") == "min",
        p("c2"), p.params.getOrElse("dir2", "min") == "min")
    }
    // ordered k-step funnel: steps is a comma-separated ordered type
    // list (declared e13 pins signup,view,purchase)
    r.register("funnel_steps") { (_, in, p) =>
      graft.ops.EventOps.funnelStepsFrames(
        withTsUs(in("events"), p.params.getOrElse("ts", "ts")),
        p.params.getOrElse("steps", "signup,view,purchase")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
    // per-source KL divergence from the corpus unigram distribution
    // over any (source, text) step
    r.register("source_kl") { (_, in, _) =>
      graft.ops.TextOps.sourceKlFrames(in("docs"))
    }
    // per-source two-sample KS drift on the document-length distribution
    // (source vs rest of corpus) over any (source, text) step
    r.register("ks_drift") { (_, in, _) =>
      graft.ops.TextOps.ksDriftFrames(in("docs"))
    }
    // per-doc unigram Shannon entropy (vocabulary-diversity quality
    // signal) over any (doc_id, text) step
    r.register("entropy") { (_, in, _) =>
      graft.ops.TextOps.entropyFrames(in("docs"))
    }
    // per-source Zipf slope (corpus-health diagnostic) over any
    // (source, text) step
    r.register("zipf") { (_, in, _) =>
      graft.ops.TextOps.zipfSlopeFrames(in("docs"))
    }
    // last-touch conversion attribution over any typed event stream;
    // touches is a comma-separated type list (declared e12 pins
    // click,view → purchase in a 24 h lookback)
    r.register("attribution") { (_, in, p) =>
      graft.ops.EventOps.attributionFrames(
        withTsUs(in("events"), p.params.getOrElse("ts", "ts")),
        p.params.getOrElse("touches", "click,view")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        p.params.getOrElse("target", "purchase"),
        p.params.getOrElse("lookback", "86400").toLong * 1000000)
    }
    // fixed-size deterministic per-stratum sample: exactly k rows per
    // stratum by md5 rank (declared o5 pins source/doc_id/k=5)
    r.register("strat_sample") { (_, in, p) =>
      graft.ops.SortsSets.stratifiedSampleFrames(in("rows"),
        p.params.getOrElse("stratum", "source"),
        p.params.getOrElse("id", "doc_id"),
        p.params.getOrElse("k", "5").toInt)
    }
    // MATCH_RECOGNIZE-style sequence-pattern counting over any keyed
    // typed stream: regex over the first letters of the type alphabet
    // (declared e14 pins v[vc]*p — browse-to-buy runs)
    r.register("pattern_match") { (_, in, p) =>
      graft.ops.EventOps.patternMatchFrames(
        withTsUs(in("events"), p.params.getOrElse("ts", "ts")),
        p.params.getOrElse("by", "user_id"),
        p.params.getOrElse("order", "ts_us,event_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        p.params.getOrElse("type", "event_type"),
        p("pattern"))
    }
    // per-doc out-of-vocabulary rate vs a frozen vocab step (one `w`
    // column) or, absent one, the corpus top-`vocab_size` words
    r.register("oov_rate") { (_, in, p) =>
      in.get("vocab") match {
        case Some(v) =>
          import org.apache.spark.sql.functions.{broadcast, col, count, explode, floor, lit, split, sum, when}
          val tok = in("docs")
            .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          tok.join(broadcast(v.select(col("w")).withColumn("in_vocab", lit(1L))),
              Seq("w"), "left")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_tokens"),
              sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
            .select(col("doc_id"), col("n_tokens"), col("n_oov"),
              floor(col("n_oov") * 1000 / col("n_tokens")).as("oov_permille"))
        case None =>
          graft.ops.TextOps.oovRateFrames(in("docs"),
            p.params.getOrElse("vocab_size", "20").toInt)
      }
    }
    // exact phrase search over any (doc_id, text) step via the
    // positional inverted index (space-separated phrase param)
    r.register("phrase_search") { (_, in, p) =>
      graft.ops.TextOps.phraseSearchFrames(in("docs"),
        p("phrase").split(" ").toSeq.filter(_.nonEmpty))
    }
    // PSI distribution-drift report over any keyed timestamped value
    r.register("psi_drift") { (_, in, p) =>
      graft.ops.Relational.psiDriftFrames(in("rows"),
        p.params.getOrElse("key", "event_type"),
        p.params.getOrElse("ts", "ts"),
        p.params.getOrElse("value", "value"),
        p.params.getOrElse("bin_width", "50").toDouble)
    }
    // bounded top-k rows per group over any frame: group/value/id column
    // names + k; value must be double-typed, id long-typed (the
    // topk_sketch contract)
    r.register("topk") { (s, in, p) =>
      import org.apache.spark.sql.functions.{col, expr, posexplode}
      graft.functions.TopKSketch.register(s)
      val (g, v, id) = (p.params.getOrElse("by", "o_custkey"),
        p("value"), p("id"))
      val k = p.params.getOrElse("k", "3").toInt
      in("rows").groupBy(col(g))
        .agg(expr(s"topk_sketch(CAST($v AS DOUBLE), CAST($id AS BIGINT), $k)")
          .as("top"))
        .select(col(g), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col(g), col("t.id").as(id), col("t.value").as(v),
          (col("pos") + 1).cast("int").as("rn"))
    }
    // linear multi-touch attribution over any typed event stream
    // (lookback seconds, touch types, target type — e18's knobs)
    r.register("linear_attribution") { (_, in, p) =>
      graft.ops.EventOps.linearAttributionFrames(in("events"),
        p.params.getOrElse("ts", "ts"),
        p.params.getOrElse("touches", "click,view")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        p.params.getOrElse("target", "purchase"),
        p.params.getOrElse("lookback", "86400").toLong * 1000000)
    }
    // Convergence cap for the converge=true graph modes: a SEPARATE knob
    // from the fixed-round `rounds` (default 3) so a default converge run
    // doesn't silently stop 3 rounds into a 20-round fixpoint (ADVICE r9).
    // 50 rounds covers any realistic co-occurrence/link-graph diameter;
    // the ops themselves warn-log if they still exit on the cap.
    def maxRounds(p: ParamMap): Int =
      p.params.get("max_rounds").map(_.toInt).getOrElse(50)
    // k-core peel over any (sa, sb) undirected edge list: fixed `rounds`
    // by default (the deterministic-oracle mode); converge=true runs the
    // same peel with rounds = max_rounds — it stops at the first round
    // that removes nothing, the TRUE Seidman k-core — and warns if a node
    // below k still survives (the cap came first)
    r.register("kcore") { (_, in, p) =>
      import org.apache.spark.sql.functions.col
      val k = p.params.getOrElse("k", "3").toInt
      val converge = p.params.getOrElse("converge", "false").toBoolean
      val rounds =
        if (converge) maxRounds(p) else p.params.getOrElse("rounds", "3").toInt
      val core = graft.ops.Graphs.kcorePeel(
        graft.ops.Graphs.adjacency(in("edges")), k, rounds)
      if (converge && !core.where(col("deg") < k).isEmpty)
        graft.ops.Graphs.warnCapExit("kcore", rounds,
          s"nodes below k=$k remain after the capped final round")
      core
    }
    // synchronous label propagation over any (sa, sb) undirected edge
    // list: fixed rounds, or converge=true → fixpoint capped at max_rounds
    r.register("label_prop") { (_, in, p) =>
      val adj = graft.ops.Graphs.adjacency(in("edges"))
      if (p.params.getOrElse("converge", "false").toBoolean)
        graft.ops.Graphs.labelPropagationConverged(adj, maxRounds(p))
      else graft.ops.Graphs.labelPropagation(adj,
        p.params.getOrElse("rounds", "3").toInt)
    }
    // damped PageRank over any weighted (src, dst, w) edge list: fixed
    // iterations, or converge=true → iterate until the L1 delta of the
    // rank vector drops below `tol`, capped at `max_rounds`
    r.register("pagerank") { (_, in, p) =>
      val damping = p.params.getOrElse("damping", "0.85").toDouble
      if (p.params.getOrElse("converge", "false").toBoolean)
        graft.ops.Graphs.pageRankConverged(in("edges"), damping, maxRounds(p),
          p.params.getOrElse("tol", "1e-6").toDouble)
      else graft.ops.Graphs.pageRank(in("edges"), damping,
        p.params.getOrElse("rounds", "3").toInt)
    }
    // conversion-lag histogram between two event types over any typed
    // event stream (declared e11 pins view→purchase, 48h cap)
    r.register("conversion_lag") { (_, in, p) =>
      graft.ops.EventOps.conversionLagFrames(
        withTsUs(in("events"), p.params.getOrElse("ts", "ts")),
        p.params.getOrElse("from", "view"),
        p.params.getOrElse("to", "purchase"),
        p.params.getOrElse("cap", "48").toInt)
    }
    r
  }
}

/** Stage-level progress listener — replaces the reference's poll-based
  * status scan (`.done`-marker counting,
  * `/root/reference/Yuki/kernel/dry_workflow.py:163-217`) with push
  * updates from the Spark scheduler: progress = stages completed / seen,
  * keyed PER job group (= impression id) so two concurrent runs don't see
  * each other's stages in their progress. Both sides count DISTINCT stage
  * ids, so retries and resubmissions don't inflate either number. */
final class RunListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val submitted =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[Int]]()
  private val completed =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[Int]]()
  // retention: a long-lived server would otherwise accumulate an entry per
  // stage forever — evict whole groups (oldest first) past a generous cap
  private val groupOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val MaxGroups = 4096
  private def setFor(m: java.util.concurrent.ConcurrentHashMap[String, java.util.Set[Int]],
      g: String): java.util.Set[Int] =
    m.computeIfAbsent(g, _ => java.util.concurrent.ConcurrentHashMap.newKeySet[Int]())

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
    val group = Option(ev.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (group != null) {
      if (!submitted.containsKey(group)) {
        groupOrder.add(group)
        // Evict oldest QUIESCENT groups (all submitted stages completed)
        // past the cap. An in-flight group is rotated to the back, never
        // evicted — dropping one would lose its completed-stage ids and
        // make /status progress jump backwards mid-run. If every group is
        // somehow active we accept temporary overage rather than corrupt
        // live runs (the cap is a leak bound, not a hard limit).
        var scans = groupOrder.size()
        while (submitted.size() > MaxGroups && scans > 0) {
          scans -= 1
          val oldest = groupOrder.poll()
          if (oldest != null) {
            val sub = submitted.get(oldest)
            val done = completed.get(oldest)
            if (sub != null && done != null && done.containsAll(sub)) {
              sub.forEach(sid => stageGroup.remove(sid))
              submitted.remove(oldest)
              completed.remove(oldest)
            } else if (sub == null) {
              completed.remove(oldest)
            } else {
              groupOrder.add(oldest) // still active: rotate, don't evict
            }
          }
        }
      }
      stageGroup.put(ev.stageInfo.stageId, group)
      setFor(submitted, group).add(ev.stageInfo.stageId)
    }
  }
  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    // completion events carry no properties — recover the group from the
    // submission-time mapping
    val group = stageGroup.get(ev.stageInfo.stageId)
    if (group != null) setFor(completed, group).add(ev.stageInfo.stageId)
  }

  /** (completed, submitted) distinct-stage counts for the given job groups
    * (a run's impression ids). */
  def progress(groups: Set[String]): (Long, Long) = {
    def count(m: java.util.concurrent.ConcurrentHashMap[String, java.util.Set[Int]]) =
      groups.iterator.map(g => Option(m.get(g)).map(_.size.toLong).getOrElse(0L)).sum
    (count(completed), count(submitted))
  }

  /** Fleet-wide view across all tracked groups. */
  def progress: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    progress(submitted.keySet.asScala.toSet)
  }
}

object RunListener {
  def install(spark: SparkSession): RunListener = {
    val l = new RunListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
