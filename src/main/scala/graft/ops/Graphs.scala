package graft.ops

import graft.core.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the shared engine under every dedup
  * CLUSTERING operator (shingle-Jaccard l5e, embedding-cosine l6b): given
  * an id universe and an undirected pair list, label each id with the
  * smallest id reachable from it.
  *
  * Algorithm: iterative hash-to-min label propagation with a FRONTIER.
  * Every id starts as its own label; each round, only vertices whose label
  * changed last round broadcast their (new, strictly smaller) label into
  * their neighborhood — sound because labels are monotone decreasing, so
  * an unchanged neighbor's label was already min'd in the round after it
  * last changed. Rounds are O(graph diameter) (near-dup components are
  * shallow); each round is one shuffle on the id.
  *
  * Convergence detection is FREE: `next` carries the previous label as a
  * column, so the changed-count is a filter over the already-materialized
  * round result — no per-round re-join against the old labels (that join
  * was 1 of the 2 joins per round in the first version of this engine).
  *
  * The loop runs over EDGE ENDPOINTS only, not the full id universe: in a
  * dedup graph the vertices with at least one near-dup edge are a small
  * fraction of the corpus (and stay so at 100 TB), so per-round shuffles
  * are sized to the duplicate graph, not the dataset. Singletons are
  * re-attached with `component = id` by one anti-join at the end.
  *
  * Memory/lineage, two postures:
  *  - checkpoint dir set (cluster): persist each round, reliable
  *    `checkpoint` every 3rd — recomputation after executor loss bottoms
  *    out at files; the final round is checkpoint-backed and every
  *    CacheManager entry is unpersisted before returning.
  *  - no checkpoint dir (local / test): `localCheckpoint` each round —
  *    blocks live outside the CacheManager, so the ContextCleaner reclaims
  *    them once the caller drops the DataFrame (a CacheManager `persist`
  *    of the final result would pin them for the JVM lifetime — the
  *    round-2 leak).
  */
object Graphs {

  private val CheckpointEvery = 3

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Graphs")

  /** A convergence loop that stops on its ROUND CAP did not reach the
    * advertised fixpoint/tolerance — say so (ADVICE r9: a default
    * converge run silently stopping far from the fixpoint had no signal
    * to the caller). Warn-level: the result is still well-defined (the
    * capped prefix of the iteration), just not the fixpoint. The k-core
    * cap check lives in the registry's `kcore` transform, the only caller
    * that runs [[kcorePeel]] to a fixpoint. */
  private[graft] def warnCapExit(op: String, rounds: Int, residual: String): Unit =
    log.warn(s"$op stopped on the round cap ($rounds rounds), NOT on " +
      s"convergence — $residual; raise max_rounds for the true fixpoint")

  /** Per-round reliable truncation for the UNROLLED iterative ops
    * (pageRank, labelPropagation): in cluster posture, cut the lineage
    * every [[CheckpointEvery]]-th round so a lost executor replays at most
    * 2 rounds instead of the whole unroll; in local posture this is the
    * identity — the composed-plan shape (today's measured-fast path) is
    * preserved exactly. The FINAL round is never cut (`round < total`,
    * the same guard as kcorePeel's `r < rounds`): checkpointing the last
    * round is a blocking materialization the caller's own action pays
    * again, with no replay-window win left to buy. */
  private def cutRound(df: DataFrame, round: Int, total: Int): DataFrame =
    if (round % CheckpointEvery == 0 && round < total &&
        df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df

  /** Per-round truncation for the CONVERGENCE loops, which must
    * materialize every round anyway (the stop predicate is an action):
    * localCheckpoint each round, upgraded to a reliable checkpoint every
    * [[CheckpointEvery]]-th round when a checkpoint dir is set — the CC
    * loop's exact cadence. */
  private def cutLoop(df: DataFrame, round: Int): DataFrame =
    if (round % CheckpointEvery == 0 &&
        df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** The part co-occurrence SIMPLE graph every graph operator here
    * declares over — MEMOIZED per (Spark application, fixture dir) as an
    * eager localCheckpoint, stored as the BIDIRECTED ADJACENCY table
    * (u, vs = distinct co-occurring parts; see [[coOccurrenceAdjPlan]]
    * for why adjacency beats the former distinct edge list).
    *
    * Production posture, not bench sugar: a link/co-occurrence graph is a
    * derived TABLE built once and queried many times (triangles,
    * communities, cores, centrality all read the same edges — exactly the
    * l27 index-once / VectorOps trained-centroid pattern). Rebuilding the
    * self-join per operator re-pays the largest single cost in the graph
    * family; the memo pays it once per corpus. Keyed by applicationId so
    * a new context never sees another's RDDs, and registered with
    * [[graft.core.Caches]] so the harnesses' quiescent-point releaseAll
    * (which destroys the checkpoint blocks) also drops the memo — a memo
    * surviving the block sweep would serve unrecomputable plans. The
    * cross-operator reuse therefore accrues to the long-lived
    * server/pipeline path, which never calls releaseAll. */
  private val MaxEdgeMemo = 4
  private val edgeMemo =
    new scala.collection.concurrent.TrieMap[(String, String), DataFrame]
  // insertion order for eviction: the memo is a leak bound on the
  // long-lived server path (which never calls releaseAll) — past the cap
  // the OLDEST corpus' edges are dropped; their checkpoint blocks are
  // reclaimed by the ContextCleaner once the DataFrame is unreachable
  // (reliable-checkpoint files via cleanCheckpoints, see Sessions.tune)
  private val edgeMemoOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
  // insert+evict (and the harness clear) serialize on this lock: without
  // it a concurrent builder's just-inserted entry could be polled and
  // evicted by ANOTHER thread's eviction loop, and a releaseAll racing a
  // builder could leave a map entry with no queue entry (unevictable
  // until the next clear). The memo is low-traffic (one insert per
  // (app, corpus)), so the lock costs nothing; the hot read path above
  // stays lock-free.
  private val edgeMemoLock = new Object
  graft.core.Caches.registerMemo(() => edgeMemoLock.synchronized {
    edgeMemo.clear(); edgeMemoOrder.clear()
  })
  /** Per-order sorted distinct part arrays ("baskets") — the shared first
    * stage of every co-purchase operator (r21). One scan + one order-keyed
    * aggregation; collect_set dedups in the PARTIAL (map-side) buffers, so
    * the exchange carries one array per order, bounded by basket size
    * (≤ 7 parts/order in TPC-H-shaped data at every SF). */
  private def orderBaskets(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.core.Tables.lineitem(s, d)
      // the not-null guard keeps the old join/countDistinct semantics
      // exactly: the former pl⋈pl inner join dropped null order keys and
      // countDistinct ignored them; null PART keys need no filter —
      // collect_set skips nulls, just as the old sa < sb predicate
      // (NULL comparisons) dropped them, while the order itself still
      // counts as a basket for l51 exactly like the old countDistinct
      .where(col("l_orderkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** Ordered co-occurrence pairs (sa < sb), one row per (order, pair) —
    * generated MAP-SIDE from the sorted basket array (posexplode + suffix
    * slice), never by a self-join. The r20 build joined the distinct
    * (orderkey, partkey) projection against itself: the broadcast build
    * side is its own subtree, so ReuseExchange never deduped it and
    * lineitem was scanned + distinct-aggregated once PER SIDE, then every
    * probe row walked a corpus-scale hashed relation (plan receipt:
    * plans/r21/cooccur_edges_before.txt, operators (1)-(12)). Guide §2.4
    * (remove shuffles outright) / §8 (pairs are a pure per-basket function
    * — compute them where the basket row lives): at 100 TB the self-join's
    * two corpus-scale exchanges (no broadcast at that size) become ONE
    * order-keyed aggregation whose output is basket-bounded. */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(posexplode(col("ps")).as(Seq("i", "sa")), col("ps"))
      .select(col("sa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("sb"))

  /** The UNCUT co-occurrence ADJACENCY plan (the memo below cuts it behind
    * a localCheckpoint): per-order basket pairs, bidirected map-side,
    * grouped into each node's neighbor set in ONE exchange — collect_set
    * dedups exactly like the former `basketPairs(...).distinct()`, so the
    * derived edge view is the identical simple graph, but the consumers'
    * re-derivations disappear (r21, guide §2.4): LPA iterates the adjacency table
    * directly (its own groupBy is gone), k-core degrees are size(vs) (its
    * degree aggregation and bidirect+repartition are gone), triangles read
    * da = size(vs) map-side (one degree join instead of two, no degree
    * aggregation), and the edge list itself is a map-side explode. */
  private def coOccurrenceAdjPlan(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    basketPairs(orderBaskets(s, d))
      .select(explode(array(
        struct(col("sa").as("u"), col("sb").as("v")),
        struct(col("sb").as("u"), col("sa").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u")).agg(collect_set(col("v")).as("vs"))

  /** The DISTINCT (sa < sb) simple edge list — a MAP-SIDE view over the
    * memoized adjacency checkpoint (each undirected edge appears in both
    * endpoints' neighbor sets; the u < v filter keeps exactly one
    * canonical copy). The edge form for the specs and `tools/DumpPlans`;
    * no declared query reads it. */
  private[graft] def coOccurrenceEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    coOccurrenceAdj(s, d)
      .select(col("u").as("sa"), explode(col("vs")).as("sb"))
      .where(col("sa") < col("sb"))

  private[graft] def coOccurrenceAdj(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val key = (s.sparkContext.applicationId, d)
    edgeMemo.get(key).getOrElse {
      val built = Lineage.cut(coOccurrenceAdjPlan(s, d))
      // putIfAbsent, not getOrElseUpdate: under a concurrent first access
      // exactly ONE build wins the map; the loser's eagerly-materialized
      // frame is simply dropped (no map entry ever points at it, so the
      // ContextCleaner reclaims its blocks) instead of being orphaned
      // behind a winner nothing can release.
      edgeMemoLock.synchronized {
        edgeMemo.putIfAbsent(key, built) match {
          case Some(winner) => winner
          case None =>
            edgeMemoOrder.add(key)
            var guard = edgeMemoOrder.size()
            while (edgeMemo.size > MaxEdgeMemo && guard > 0) {
              guard -= 1
              val oldest = edgeMemoOrder.poll()
              if (oldest != null) {
                if (oldest == key) edgeMemoOrder.add(key) // never evict the newest
                else edgeMemo.remove(oldest)
              }
            }
            built
        }
      }
    }
  }

  /** @param ids   one column `id` — the full vertex universe (singletons
    *              keep their own id as component)
    * @param pairs two columns `da`, `db` — undirected edges
    * @return columns `id`, `component` (= min reachable id) */
  def connectedComponents(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val s = ids.sparkSession
    val reliable = s.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame, round: Int): DataFrame =
      if (!reliable) df.localCheckpoint(eager = true)
      else if (round % CheckpointEvery == 0) df.checkpoint(eager = true)
      else df.persist()

    // Both edge directions from ONE pass over `pairs`: the former
    // union-of-two-selects re-executed the entire upstream pair plan per
    // branch at persist-materialization time (exchange reuse only saves
    // the shuffles) — r16 phase isolation measured the l5e dedup-groups
    // query at 129.6 s vs 53.6 s for the identical pair join alone at the 100x
    // fixture, with the CC loop itself converging in 2 rounds; the
    // duplicated upstream execution WAS the superlinear "CC" term in the
    // r15 decade table (l49/l5f e2 ~ 1.12). The explode emits each pair
    // in both orientations map-side, so the pair plan runs exactly once.
    val edges = pairs.select(explode(array(
        struct(col("da").as("da"), col("db").as("db")),
        struct(col("db").as("da"), col("da").as("db")))).as("e"))
      .select(col("e.da").as("da"), col("e.db").as("db")).persist()
    // Round 1 fused with vertex discovery: initial labels are the ids
    // themselves, so round 1's neighborhood-min over initial labels is just
    // min(db) per da — ONE groupBy over the edge list, no join, no separate
    // distinct — and its keyset IS the duplicate-graph vertex set (both
    // edge directions are present, so `da` covers every endpoint).
    var round = 1
    var cached = truncate(
      edges.groupBy(col("da")).agg(min(col("db")).as("nmin"))
        .select(col("da").as("id"), col("da").as("prev"),
          least(col("da"), col("nmin")).as("component")), round)
    var labels = cached.select(col("id"), col("component"))
    var frontier = cached.where(col("component") < col("prev"))
      .select(col("id"), col("component"))
    var changed = cached.where(col("component") < col("prev")).count()
    // The frontier's exact row count is known (it IS `changed`), so hint
    // broadcast whenever it provably fits: the per-round edges⋈frontier
    // join then probes the CACHED edge partitions in place — no exchange,
    // no per-round sort of the edge list. Stats-blind planning can't do
    // this itself (localCheckpoint-backed relations carry no sizeInBytes),
    // and on a huge early-round frontier the hint is simply not applied —
    // the plain shuffle join is the honest fallback at 100 TB.
    val bcastBytes = s.sessionState.conf.autoBroadcastJoinThreshold
    def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
      if (bcastBytes > 0 && rows * 64L < bcastBytes) broadcast(df) else df
    while (changed > 0) {
      round += 1
      val neighborMin = edges
        .join(maybeBroadcast(frontier, changed)
          .select(col("id").as("db"), col("component").as("nc")), Seq("db"))
        .groupBy(col("da")).agg(min(col("nc")).as("nmin"))
      val next = truncate(
        labels
          .join(neighborMin.select(col("da").as("id"), col("nmin")), Seq("id"), "left")
          .select(col("id"), col("component").as("prev"),
            least(col("component"), coalesce(col("nmin"), col("component"))).as("component")),
        round)
      // labels are monotone decreasing: changed ⟺ strictly smaller
      changed = next.where(col("component") < col("prev")).count()
      frontier = next.where(col("component") < col("prev"))
        .select(col("id"), col("component"))
      labels = next.select(col("id"), col("component"))
      cached.unpersist(blocking = false)
      cached = next
    }
    if (reliable && round % CheckpointEvery != 0) {
      // move the final round out of the CacheManager: checkpoint-backed
      // result, nothing pinned after the caller drops the DataFrame
      labels = labels.checkpoint(eager = true)
      cached.unpersist(blocking = false)
    }
    // singletons (no edges) never entered the loop: component = own id.
    // The anti-join is broadcast-or-shuffle on the SMALL duplicate-vertex
    // set; labels has flat lineage (no iteration replay on the caller's
    // action) and on the local path its localCheckpoint blocks are
    // GC-reclaimed once the caller drops the DataFrame.
    val out = labels.unionByName(
      ids.select(col("id"))
        .join(labels.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
    edges.unpersist(blocking = false)
    out
  }

  /** Weighted PageRank over an arbitrary edge list — the link-graph
    * centrality signal web-corpus pipelines use as a page-quality prior
    * (harmonic/PageRank centrality in Common-Crawl-scale filtering).
    * Standard damped formulation, fixed iteration count:
    * pr₀ = 1/N; pr_{t+1}(v) = (1-d)/N + d · Σ_{u→v} pr_t(u)·w(u,v)/outw(u).
    * Dangling mass is dropped (sink nodes re-seed through the damping
    * term only) — the same simplification both engines compute, so the
    * oracle is exact arithmetic, not an approximation contract.
    *
    * Scale shape per iteration: the [[contribEdges]] join composes
    * LAZILY into each unrolled iteration — when out-weights broadcast the
    * edge side never exchanges for it, and when they can't, AQE's stage
    * reuse runs the identical build subtree ONCE and later iterations
    * read the reused shuffle files (measured in tools/nobroadcast.json;
    * the eager-hoist alternative lost in both regimes, see contribEdges).
    * The one always-edge-scale shuffle per iteration is the inflow
    * aggregation on dst. Nodes and N are computed once. The iteration count
    * is a fixed plan unroll here (3 plans composed in local posture); when
    * a checkpoint dir is set, every [[CheckpointEvery]]-th round's rank
    * vector is RELIABLY checkpointed, exactly like [[connectedComponents]]
    * — an executor loss replays at most 2 rounds, never the whole unroll.
    *
    * @param edges columns `src`, `dst`, `w` (long weight)
    * @return columns `node`, `pr` (rounded to 8 decimals) */
  def pageRank(edges: DataFrame, damping: Double, iters: Int): DataFrame = {
    val g = new RankGraph(edges, damping)
    var pr = g.uniform
    for (i <- 1 to iters) pr = cutRound(g.next(i, pr), i, iters)
    pr.select(col("node"), round(col("pr"), 8).as("pr"))
  }

  /** Run-to-convergence PageRank — the production variant of [[pageRank]]:
    * iterate until the L1 delta of the rank vector drops below `tol` or
    * `maxRounds` is hit (the round cap bounds the iteration budget at
    * 100 TB; the declared fixed-round l26 query stays untouched for the
    * oracle). Each round materializes (the delta is an action anyway)
    * under the dual posture: reliable checkpoint every
    * [[CheckpointEvery]]-th round when a checkpoint dir is set. The
    * stopped state is a true fixpoint within tol: the L1 distance to the
    * fixpoint is bounded by tol·d/(1−d), the geometric tail of the
    * damping contraction (asserted in GraphsReliableSpec against the
    * analytic fixpoint of a cyclic test graph). */
  def pageRankConverged(edges: DataFrame, damping: Double,
      maxRounds: Int, tol: Double): DataFrame = {
    val g = new RankGraph(edges, damping)
    // materialized: round 2 joins it as the previous vector and round 1's
    // delta reads it as the L1 baseline
    var pr = Lineage.cut(g.uniform)
    var round0 = 0
    var delta = Double.MaxValue
    while (round0 < maxRounds && delta >= tol) {
      round0 += 1
      val next = cutLoop(g.next(round0, pr), round0)
      // L1 delta over the node-keyed join of the two rank vectors — one
      // node-scale exchange, no driver-side vectors
      delta = next.join(pr.withColumnRenamed("pr", "prev"), Seq("node"))
        .agg(coalesce(sum(abs(col("pr") - col("prev"))), lit(0.0)))
        .head().getDouble(0)
      pr = next
    }
    if (delta >= tol)
      warnCapExit("pageRankConverged", maxRounds, s"L1 delta $delta >= tol $tol")
    pr.select(col("node"), round(col("pr"), 8).as("pr"))
  }

  /** The setup and round body both PageRank loops share. Every round
    * joins the edge list, and nodes/out-weights derive from it too —
    * without a lineage cut the upstream edge aggregation re-executes once
    * per consumer (measured 3× on the declared graph), so the edges and
    * the node set are cut once here; N is a 1-row broadcast. */
  private final class RankGraph(edges0: DataFrame, damping: Double) {
    private val edges = Lineage.cut(edges0)
    private val nodes = Lineage.cut(edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct())
    private val nN = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    private val ew = contribEdges(edges)

    /** pr₀ = 1/N on every node. */
    val uniform: DataFrame = nodes.crossJoin(nN)
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))

    /** Round `i`'s rank vector from the previous one, `pr`. Round 1 reads
      * the UNIFORM pr₀ = 1/N straight off the edge table and ignores `pr`
      * (r21, guide §2.4): the join against the initial rank vector only
      * attached the same constant to every edge row — per-row terms are
      * bit-identical ((1.0/N)·w/outw), one edge-scale join gone. No
      * precondition: pr₀ is uniform by definition on any graph. */
    def next(i: Int, pr: DataFrame): DataFrame = {
      val inflow = (if (i == 1)
          ew.crossJoin(nN)
            .select(col("dst"), (lit(1.0) / col("n_nodes")).as("pr"),
              col("w"), col("outw"))
        else ew.join(pr.withColumnRenamed("node", "src"), Seq("src")))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("w") / col("outw")).as("inflow"))
      nodes.crossJoin(nN)
        .join(inflow, Seq("node"), "left_outer")
        .select(col("node"),
          (lit(1.0 - damping) / col("n_nodes") +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("pr"))
    }
  }

  /** The out-weight-annotated edge table both PageRank variants iterate
    * over: (src, dst, w, outw) — returned LAZY (the composed join), never
    * eagerly materialized. This is a measured decision, twice over:
    *
    *  - r14 shipped an unconditional hoist + eager lineage cut here and it
    *    was a 2× local / 1.33× at-10× regression in the broadcastable
    *    regime (VERDICT r14 #1: idle sf0.1 1.85 s → 3.61 s).
    *  - r15 then exercised the hoist's own claimed win regime —
    *    `autoBroadcastJoinThreshold=-1`, where the per-iteration join must
    *    shuffle — and the hoist LOSES there too (tools/nobroadcast.json:
    *    sf0.1 2.28 s hoisted vs 1.36 s lazy; 10× fixture 6.22 s vs
    *    4.35 s). Two reasons, both visible in the measured plans:
    *    (a) AQE's stage reuse already dedups the identical per-iteration
    *    build subtree — the outw aggregation and its exchange run ONCE
    *    and later iterations read the reused shuffle files, which is everything the hoist was supposed to buy; and
    *    (b) the eager checkpoint doesn't even keep its side of the
    *    bargain — under AQE the coalesced final plan reports
    *    UnknownPartitioning, so the checkpointed table's src clustering
    *    is invisible to EnsureRequirements and every iteration RE-SHUFFLES
    *    the materialized table anyway (14 vs 17 exchanges, but the extra
    *    materialization outweighs the saved ones).
    *
    * `w` and `outw` ride as separate columns (not pre-divided) so the
    * per-edge contribution keeps the exact expression `pr * w / outw` —
    * bit-identical floats to the oracle's arithmetic. */
  private def contribEdges(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy(col("src")).agg(sum(col("w")).as("outw")), Seq("src"))

  /** L26: PageRank centrality over the customer→supplier order graph
    * (edge weight = lineitems ordered) — 3 damped iterations. Node ids
    * are prefixed ('c'/'s') so the two key spaces can't collide. */
  val l26PageRank: graft.ops.Relational.Q = (s, d) => {
    val li = graft.core.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = graft.core.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .agg(count(lit(1)).as("w"))
    pageRank(edges, damping = 0.85, iters = 3)
  }

  /** Triangle-count core over a DISTINCT, caller-materialized undirected
    * edge list (sa < sb)
    * — DEGREE-ORDERED orientation, the O(E^1.5) classic (Schank/Wagner;
    * the same orientation GraphX's TriangleCount and every distributed
    * triangle paper uses): each edge points from its lower-(degree, id)
    * endpoint to the higher, so every node's OUT-degree is O(√E) no matter
    * how skewed the raw degree distribution — the wedge self-join that
    * explodes quadratically on a hub node under naive id-orientation stays
    * bounded. Closing uses the edge-iterator form (see inline comment):
    * out-neighbor arrays meet at each edge and intersect in-expression, so
    * the wedge set never materializes as exchange rows; each triangle is
    * counted exactly once. Counting is orientation-invariant, which is why
    * the DuckDB twin can use the simple id-ordered 3-way join. */
  private[graft] def triangleCount(adj: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // PRECONDITION: `adj` is the MATERIALIZED bidirected adjacency table
    // (u, vs = distinct neighbors) — [[coOccurrenceAdj]]. The edge list
    // and BOTH degrees derive from it without an aggregation (r21): each
    // exploded (sa, sb) row carries da = size(vs) map-side, and the sb
    // side's degree attaches with ONE node-scale join (unhinted: AQE
    // broadcasts the node-scale degree table when it fits, falls back to
    // a keyed shuffle join at corpus scale). The former edge-list form
    // paid a full degree aggregation plus two edge-scale degree joins.
    val ed = adj
      .select(col("u").as("sa"), size(col("vs")).as("da"),
        explode(col("vs")).as("sb"))
      .where(col("sa") < col("sb"))
    val degT = adj.select(col("u").as("sb"), size(col("vs")).as("db"))
    val withD = ed.join(degT, Seq("sb"))
    val lower = struct(col("da"), col("sa")) < struct(col("db"), col("sb"))
    // the oriented list feeds the adjacency build and both join legs below
    val e = withD.select(
      when(lower, col("sa")).otherwise(col("sb")).as("u"),
      when(lower, col("sb")).otherwise(col("sa")).as("v"))
      .localCheckpoint(eager = true)
    // EDGE-ITERATOR closing (sorted-adjacency variant of Schank/Wagner):
    // instead of materializing every wedge (u→v, u→w) as a row and closing
    // it with a shuffle join — the wedge exchange is Σ outdeg² rows, the
    // dominant cost — attach each node's OUT-neighbor array to the edges
    // touching it and count |N⁺(u) ∩ N⁺(v)| per edge in an expression.
    // Same O(E^1.5) work and the same degree-ordered O(√E) out-degree
    // bound (arrays stay small on any skew), but the wedge set never
    // exists as exchange rows: two keyed joins carry the arrays, the
    // intersection runs where the edge row lives. Each triangle
    // {u<v<w by rank} is counted exactly once, at its (u,v) edge.
    val adjOut = e.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))
    // the u-side array attaches MAP-SIDE (r22, guide §2.4): adjOut is
    // exactly e grouped by u, so exploding it regenerates every oriented
    // edge (u, v) with nu already in hand — the former e ⋈ adjOut join
    // (one edge-scale shuffle + hash build) was joining a frame to its
    // own groupBy. Only the v-side attach remains a join.
    val tri = adjOut
      .select(col("u"), explode(col("nbrs")).as("v"), col("nbrs").as("nu"))
      .join(adjOut.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(size(array_intersect(col("nu"), col("nv"))).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    (adj, ed, tri)
  }

  /** L35: triangle counting — the clustering/community-density statistic
    * (and the canonical "your join order matters at scale" benchmark).
    * Declared over the part co-occurrence graph: two parts are linked when
    * some order contains both (20k nodes / 1.2M edges / 1.9M triangles at
    * sf0.1 — sparse, unlike the near-complete co-supplier graph). Emits
    * ONE row (n_nodes, n_edges, n_triangles), all BIGINT. */
  val l35Triangles: graft.ops.Relational.Q = (s, d) => {
    val (nodes, ed, tri) = triangleCount(coOccurrenceAdj(s, d))
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(ed.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
  }

  /** The bidirected adjacency table (u, vs) of ANY undirected (sa, sb)
    * edge list — what [[labelPropagation]], [[labelPropagationConverged]]
    * and [[kcorePeel]] iterate over when they run on registry edges (the
    * declared l40/l46/l46b pass the memoized [[coOccurrenceAdj]]
    * instead). Built ONCE before the rounds (r21, guide §2.3 — the
    * triangle-count edge-iterator posture; the k-core hoist measured
    * l46 10×: 18.93 → 12.83 s in r14): the former per-round joins carried
    * the EDGE-scale bidirected table, now they are node-scale × node-scale
    * (same total neighbor bytes, ~2 orders fewer rows through the join)
    * and the neighbor expansion happens map-side via explode. collect_list
    * keeps duplicate neighbors, so a multigraph input keeps its semantics
    * exactly: LPA label counts and k-core degrees (edge endpoints,
    * counting multiplicity) are the bidirected edge table's. */
  private[graft] def adjacency(edges: DataFrame): DataFrame =
    Lineage.cut(edges.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(edges.select(col("sb").as("u"), col("sa").as("v")))
      .groupBy(col("u")).agg(collect_list(col("v")).as("vs")))

  /** Synchronous deterministic label propagation over a MATERIALIZED
    * bidirected adjacency table (u, vs) — the declared l40 passes
    * [[coOccurrenceAdj]] directly (its memoized build is the only exchange
    * the graph costs), the registry passes [[adjacency]] of arbitrary
    * edges. Labels start as node ids; each round every node adopts the
    * most frequent label among its NEIGHBORS (count desc, label asc
    * tie-break — the determinism knob async LPA lacks). Every node in the
    * adjacency has ≥1 neighbor, so each round relabels every node. Per
    * round ([[lpaRound]]): one node-scale join of the label vector
    * against the adjacency (neighbor lists explode MAP-SIDE), one
    * (node, label) aggregation + one node argmax aggregation — label
    * counts (not floats) on the wire.
    *
    * `simpleGraph = true` (caller-asserted: the neighbor lists are
    * DISTINCT, like [[coOccurrenceAdj]]'s collect_set) unlocks the round-1
    * algebraic shortcut: with labels = ids and no duplicate edges, every
    * (node, neighbor-label) count in round 1 is exactly 1, so "most
    * frequent, count desc / label asc" degenerates to min(neighbor) — one
    * array_min over the adjacency row replaces round 1's join + two
    * aggregations. On a multigraph counts exceed 1 and the shortcut is
    * invalid, so the registry path (arbitrary `edges` input) keeps the
    * generic round. Measured sf0.1 (r21, min of 2, same JVM): declared
    * l40 4.00 s → 2.61 s with adjacency rounds + shortcut; output
    * bit-identical (exceptAll both ways = 0). */
  private[graft] def labelPropagation(adj: DataFrame, rounds: Int,
      simpleGraph: Boolean = false): DataFrame = {
    val shortcut = simpleGraph && rounds >= 1
    // round-0 labels are the ids themselves; adj's u column is already the
    // distinct endpoint set (one row per node), so no separate distinct
    var labels =
      if (shortcut) adj.select(col("u").as("node"), array_min(col("vs")).as("lab"))
      else adj.select(col("u").as("node"), col("u").as("lab"))
    for (r <- (if (shortcut) 2 else 1) to rounds) {
      // argmax by (count desc, label asc): max(struct(c, -label)) picks
      // the highest count, then the lowest label; the partial agg still
      // combines map-side. Plans as a SortAggregate (a struct max is not
      // hash-aggregable) — an r17 experiment packed (count, label) into
      // one BIGINT to make this a HashAggregate and was REJECTED on
      // measurement: the struct path won all three fresh-JVM pairs at the
      // 100x tier (307/124/201 s vs packed 347/178/288 s) and spilled
      // LESS (tools/l40_argmax.json). The sort is
      // not the bottleneck: the SortAggregate streams its sorted input
      // with bounded memory and hands the next round already-ordered
      // rows, while the hash map adds per-task state exactly where the
      // tier is memory-bound (the l40_spill.json cliff).
      labels = cutRound(lpaRound(adj, labels), r, rounds)
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** One synchronous LPA round over the adjacency table: every node's
    * label is delivered to its neighbors (join on the node key, explode
    * the neighbor list map-side — the graph is undirected, so sending
    * along (u → vs) is receiving from neighbors), then every node adopts
    * the most frequent received label (count desc, label asc tie-break).
    * Shared by the fixed-round [[labelPropagation]] and
    * [[labelPropagationConverged]]. */
  private def lpaRound(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.select(col("node").as("u"), col("lab").as("nlab")), Seq("u"))
      .select(explode(col("vs")).as("rcv"), col("nlab"))
      .groupBy(col("rcv"), col("nlab")).agg(count(lit(1)).as("c"))
      .groupBy(col("rcv"))
      .agg(max(struct(col("c"), (-col("nlab")).as("neg"))).as("m"))
      .select(col("rcv").as("node"), (-col("m.neg")).as("lab"))

  /** Run-to-convergence LPA over the same adjacency table — synchronous
    * rounds until NO label changes (a true fixpoint: one more round
    * reproduces the same assignment, asserted in GraphsReliableSpec) or
    * `maxRounds` is hit. Synchronous LPA can 2-cycle on bipartite-ish
    * structure, so the round cap is the termination guarantee, not a
    * tuning knob. The changed-count is one node-keyed join per round
    * (node-scale, integer rows); per-round materialization runs under the
    * CC loop's dual posture. */
  private[graft] def labelPropagationConverged(adj: DataFrame,
      maxRounds: Int): DataFrame = {
    var labels = Lineage.cut(adj.select(col("u").as("node"), col("u").as("lab")))
    var round0 = 0
    var changed = 1L
    while (round0 < maxRounds && changed > 0) {
      round0 += 1
      val next = cutLoop(lpaRound(adj, labels), round0)
      changed = next
        .join(labels.withColumnRenamed("lab", "prev"), Seq("node"))
        .where(col("lab") =!= col("prev")).count()
      labels = next
    }
    if (changed > 0)
      warnCapExit("labelPropagationConverged", maxRounds,
        s"$changed labels still changing (synchronous LPA can 2-cycle)")
    labels.select(col("node"), col("lab").as("community"))
  }

  /** L40: community detection via label propagation (Raghavan et al.
    * 2007) — the near-linear community algorithm GraphX ships as
    * `LabelPropagation`; here the SYNCHRONOUS deterministic variant
    * (fixed rounds, count-then-min tie-break) so the assignment is a pure
    * function of the graph and both engines land on identical rows.
    * Declared over the same part co-occurrence graph as l35 (deduped to a
    * simple graph). Three unrolled rounds, like l26's PageRank — at
    * 100 TB each round is edge-linear with 8-byte (node, label) pairs on
    * the wire, and the loop would checkpoint per round (the
    * [[connectedComponents]] posture). */
  val l40LabelProp: graft.ops.Relational.Q = (s, d) =>
    // straight over the memoized adjacency — zero graph-build exchanges
    // beyond the memo's own; simpleGraph: collect_set neighbors are
    // distinct, so the round-1 min(neighbor) shortcut is exact
    labelPropagation(coOccurrenceAdj(s, d), rounds = 3, simpleGraph = true)

  /** Synchronous k-core peel (Seidman 1983 degeneracy peeling; the
    * Batagelj–Zaveršnik shape run synchronously) over a MATERIALIZED
    * bidirected adjacency table (u, vs) — the declared l46/l46b pass
    * [[coOccurrenceAdj]], the registry passes [[adjacency]] of arbitrary
    * edges. Each round removes every node whose degree in the CURRENT
    * induced graph is < k, all at once. At most `rounds` rounds, so the
    * declared queries stay a pure SQL-unrollable function of the graph —
    * the l26/l40 determinism rule — and a 100 TB run bounds its iteration
    * budget. The loop stops early at the first round that removes
    * nothing: that state is the true Seidman k-core (every survivor has
    * induced degree ≥ k), so the registry's converge=true runs this same
    * loop with `rounds = max_rounds` and checks the cap itself. Returns
    * survivors with their residual degree.
    *
    * DEGREE-DELTA peel (VERDICT r12 #3, reshaped r21): the adjacency is
    * materialized ONCE; each round mutates only the NODE-scale degree
    * table — removed = nodes below k, survivors' degrees drop by their
    * edge count to removed neighbors. The initial degree table is
    * size(vs), no aggregation; each round's decrement joins the
    * NODE-scale adjacency against the (shrinking) removed set and
    * explodes only the removed nodes' neighbor lists map-side — the
    * former shape scanned the FULL edge-scale bidirected table per round
    * for its left_semi + groupBy(v). */
  private[graft] def kcorePeel(adj: DataFrame, k: Int, rounds: Int): DataFrame = {
    var deg = Lineage.cut(adj.select(col("u"), size(col("vs")).cast("long").as("deg")))
    var r = 1
    var peeling = true
    while (r <= rounds && peeling) {
      val removed = deg.where(col("deg") < k).select(col("u"))
      // EARLY EXIT (r21): a round that removes no node is the IDENTITY —
      // dec is empty, the anti-join drops nothing, every degree is
      // unchanged — and so is every later round (the degree table is the
      // loop's entire state). Skipping them changes no result row, only
      // the cost (l46's k=3 removes zero nodes at every SF). The check
      // itself is a limit-1 probe of the materialized degree table.
      if (removed.isEmpty) peeling = false
      else {
        val dec = adj.join(removed, Seq("u"))
          .select(explode(col("vs")).as("u"))
          .groupBy(col("u")).agg(count(lit(1)).as("dec"))
        deg = deg.join(removed, Seq("u"), "left_anti")
          .join(dec, Seq("u"), "left")
          .select(col("u"),
            (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
        // node-scale truncation each round (integer pairs — cheap), reliable
        // every CheckpointEvery-th round in cluster posture: cutLoop
        if (r < rounds) deg = cutLoop(deg, r)
      }
      r += 1
    }
    // deg = 0 survivors lost every neighbor in the final round — the edge
    // semantics (nodes present in the induced edge list) exclude them
    deg.where(col("deg") > 0)
      .select(col("u").as("node"), col("deg"))
  }

  /** L46: k-core decomposition (3 peel rounds, k = 3) over the l35/l40
    * part co-occurrence graph — the dense-substructure filter that
    * complements l35's triangle DENSITY number and l40's communities:
    * k-core survivors are the "well-embedded" nodes (a quality prior for
    * link-graph corpora, and the standard pre-filter before expensive
    * community/centrality passes since peeling is edge-linear). */
  val l46Kcore: graft.ops.Relational.Q = (s, d) =>
    kcorePeel(coOccurrenceAdj(s, d), k = 3, rounds = 3)

  /** L46b: the same peel with a k that ACTUALLY REMOVES nodes on the
    * declared data (VERDICT r13 perf note: at k=3 the fixture removes
    * zero nodes — every co-occurrence node already has degree ≥ 3 — so
    * the declared l46 pins the plan shape and the no-op fixpoint while
    * peel semantics were exercised only by GraphsReliableSpec's
    * synthetic graphs). k=75 sits inside the fixture's degree
    * distribution at every SF (min degree 38–49, median 89–119), so
    * each round peels real nodes THROUGH the declared oracle gate with
    * survivors left at every SF: sf0.001 cascades 200 → 176 → 143 → 54
    * survivors over the 3 rounds, sf0.01 1949 → 1941 → 1939, sf0.1
    * 19472 → 19415 → 19408. Same operator, same plan — only the
    * threshold differs. */
  val l46bKcoreDeep: graft.ops.Relational.Q = (s, d) =>
    kcorePeel(coOccurrenceAdj(s, d), k = 75, rounds = 3)

  /** L51: market-basket association (support + lift per co-purchased part
    * pair — the classic Apriori-style "frequently bought together"
    * table, and the association-rule sibling of l35/l40/l46's structural
    * views of the same co-purchase graph). Support pruning (n_ab ≥ 3) is
    * the scale lever: the pair aggregation happens FIRST, on the basket
    * equi-join, and the threshold bounds everything downstream — item
    * marginals join pair-keyed, the basket total is a 1-row broadcast.
    * Lift divides exact integer counts, one round(·,6) at the end (the
    * l21 rule). */
  val l51BasketLift: graft.ops.Relational.Q = (s, d) => {
    // Basket arrays materialized ONCE (r21): the r20 form re-derived the
    // distinct (orderkey, partkey) projection under every consumer — the
    // plan scanned lineitem FOUR times (pair join ×2, item marginal ×2 for
    // the pa/pb attach sides, basket total) with 7 exchanges, because each
    // broadcast build side is its own subtree and ReuseExchange never
    // fires across them (plans/r21/l51_basket_lift_before.txt). Now one
    // scan + one order-keyed aggregation feeds everything: n_baskets is a
    // row count, item marginals explode the arrays, and pairs generate
    // map-side (see basketPairs) instead of through the self-join.
    // Identical rows: collect_set dedups exactly like the old distinct,
    // each order contributes each (pa < pb) pair exactly once, and the
    // not-null guards reproduce the old join/countDistinct null semantics.
    val baskets = Lineage.cut(orderBaskets(s, d))
    val nB = baskets.agg(count(lit(1)).as("n_baskets"))
    val item = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    val pairCnt = basketPairs(baskets)
      .select(col("sa").as("pa"), col("sb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 3)
    pairCnt
      .join(item.select(col("l_partkey").as("pa"), col("n_item").as("n_a")), Seq("pa"))
      .join(item.select(col("l_partkey").as("pb"), col("n_item").as("n_b")), Seq("pb"))
      .crossJoin(broadcast(nB))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab") * col("n_baskets") / (col("n_a") * col("n_b")), 6)
          .as("lift"))
  }

  val queries: Map[String, graft.ops.Relational.Q] = Map(
    "l51_basket_lift" -> l51BasketLift,
    "l26_pagerank" -> l26PageRank,
    "l35_triangles" -> l35Triangles,
    "l46_kcore" -> l46Kcore,
    "l46b_kcore_deep" -> l46bKcoreDeep,
    "l40_label_prop" -> l40LabelProp)

  val oracle: Map[String, String] = Map(
    "l51_basket_lift" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM pl),
            it AS (SELECT l_partkey, count(*) AS n_item FROM pl GROUP BY 1),
            pc AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                          count(*) AS n_ab
                   FROM pl a JOIN pl b
                     ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT pc.pa, pc.pb, CAST(pc.n_ab AS BIGINT) AS n_ab,
                CAST(ia.n_item AS BIGINT) AS n_a,
                CAST(ib.n_item AS BIGINT) AS n_b,
                round(pc.n_ab * nb.n_baskets * 1.0 / (ia.n_item * ib.n_item), 6)
                  AS lift
         FROM pc
         JOIN it ia ON pc.pa = ia.l_partkey
         JOIN it ib ON pc.pb = ib.l_partkey
         CROSS JOIN nb""",
    // 3 synchronous peel rounds, unrolled (the l26/l40 pattern): each
    // round drops all nodes with current degree < 3 simultaneously
    "l46_kcore" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb
                   FROM pl a JOIN pl b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            bi0 AS (SELECT sa AS u, sb AS v FROM e0
                    UNION ALL SELECT sb AS u, sa AS v FROM e0),
            k1 AS (SELECT u FROM bi0 GROUP BY u HAVING count(*) >= 3),
            bi1 AS (SELECT b.u, b.v FROM bi0 b
                    JOIN k1 a ON b.u = a.u JOIN k1 c ON b.v = c.u),
            k2 AS (SELECT u FROM bi1 GROUP BY u HAVING count(*) >= 3),
            bi2 AS (SELECT b.u, b.v FROM bi1 b
                    JOIN k2 a ON b.u = a.u JOIN k2 c ON b.v = c.u),
            k3 AS (SELECT u FROM bi2 GROUP BY u HAVING count(*) >= 3),
            bi3 AS (SELECT b.u, b.v FROM bi2 b
                    JOIN k3 a ON b.u = a.u JOIN k3 c ON b.v = c.u)
         SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
         FROM bi3 GROUP BY u""",
    // identical unroll at k=75 — the threshold that actually peels on the
    // fixture (see l46bKcoreDeep scaladoc)
    "l46b_kcore_deep" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb
                   FROM pl a JOIN pl b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            bi0 AS (SELECT sa AS u, sb AS v FROM e0
                    UNION ALL SELECT sb AS u, sa AS v FROM e0),
            k1 AS (SELECT u FROM bi0 GROUP BY u HAVING count(*) >= 75),
            bi1 AS (SELECT b.u, b.v FROM bi0 b
                    JOIN k1 a ON b.u = a.u JOIN k1 c ON b.v = c.u),
            k2 AS (SELECT u FROM bi1 GROUP BY u HAVING count(*) >= 75),
            bi2 AS (SELECT b.u, b.v FROM bi1 b
                    JOIN k2 a ON b.u = a.u JOIN k2 c ON b.v = c.u),
            k3 AS (SELECT u FROM bi2 GROUP BY u HAVING count(*) >= 75),
            bi3 AS (SELECT b.u, b.v FROM bi2 b
                    JOIN k3 a ON b.u = a.u JOIN k3 c ON b.v = c.u)
         SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
         FROM bi3 GROUP BY u""",
    // same 3 synchronous rounds, unrolled (the l26 pattern); count-desc /
    // label-asc tie-break makes every round engine-independent
    "l40_label_prop" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb
                   FROM pl a JOIN pl b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            bi AS (SELECT sa AS u, sb AS v FROM e0
                   UNION ALL SELECT sb AS u, sa AS v FROM e0),
            l0 AS (SELECT DISTINCT u AS node, u AS lab FROM bi),
            c1 AS (SELECT b.u, l.lab AS nlab, count(*) AS c
                   FROM bi b JOIN l0 l ON b.v = l.node GROUP BY 1, 2),
            l1 AS (SELECT u AS node, nlab AS lab FROM
                     (SELECT u, nlab, c, row_number() OVER
                        (PARTITION BY u ORDER BY c DESC, nlab) AS rk FROM c1)
                   WHERE rk = 1),
            c2 AS (SELECT b.u, l.lab AS nlab, count(*) AS c
                   FROM bi b JOIN l1 l ON b.v = l.node GROUP BY 1, 2),
            l2 AS (SELECT u AS node, nlab AS lab FROM
                     (SELECT u, nlab, c, row_number() OVER
                        (PARTITION BY u ORDER BY c DESC, nlab) AS rk FROM c2)
                   WHERE rk = 1),
            c3 AS (SELECT b.u, l.lab AS nlab, count(*) AS c
                   FROM bi b JOIN l2 l ON b.v = l.node GROUP BY 1, 2),
            l3 AS (SELECT u AS node, nlab AS lab FROM
                     (SELECT u, nlab, c, row_number() OVER
                        (PARTITION BY u ORDER BY c DESC, nlab) AS rk FROM c3)
                   WHERE rk = 1)
         SELECT node, lab AS community FROM l3""",
    "l35_triangles" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e AS (SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb
                  FROM pl a JOIN pl b
                    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
         SELECT (SELECT count(*) FROM (SELECT sa AS n FROM e UNION SELECT sb FROM e)) AS n_nodes,
                (SELECT count(*) FROM e) AS n_edges,
                (SELECT count(*) FROM e e1
                   JOIN e e2 ON e1.sa = e2.sa AND e1.sb < e2.sb
                   JOIN e e3 ON e3.sa = e1.sb AND e3.sb = e2.sb) AS n_triangles""",
    "l26_pagerank" ->
      """WITH e AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                           's' || CAST(l_suppkey AS VARCHAR) AS dst,
                           count(*) AS w
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nn AS (SELECT count(*) AS n FROM nodes),
            ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
            pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS pr FROM nodes CROSS JOIN nn),
            pr1 AS (SELECT nd.node, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * coalesce(c.inflow, CAST(0 AS DOUBLE)) AS pr
                    FROM nodes nd CROSS JOIN nn
                    LEFT JOIN (SELECT e.dst AS node,
                                      sum(p.pr * e.w / ow.outw) AS inflow
                               FROM e JOIN ow USING (src)
                               JOIN pr0 p ON p.node = e.src
                               GROUP BY 1) c ON c.node = nd.node),
            pr2 AS (SELECT nd.node, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * coalesce(c.inflow, CAST(0 AS DOUBLE)) AS pr
                    FROM nodes nd CROSS JOIN nn
                    LEFT JOIN (SELECT e.dst AS node,
                                      sum(p.pr * e.w / ow.outw) AS inflow
                               FROM e JOIN ow USING (src)
                               JOIN pr1 p ON p.node = e.src
                               GROUP BY 1) c ON c.node = nd.node),
            pr3 AS (SELECT nd.node, CAST(0.15 AS DOUBLE) / nn.n + 0.85 * coalesce(c.inflow, CAST(0 AS DOUBLE)) AS pr
                    FROM nodes nd CROSS JOIN nn
                    LEFT JOIN (SELECT e.dst AS node,
                                      sum(p.pr * e.w / ow.outw) AS inflow
                               FROM e JOIN ow USING (src)
                               JOIN pr2 p ON p.node = e.src
                               GROUP BY 1) c ON c.node = nd.node)
         SELECT node, round(pr, 8) AS pr FROM pr3""")
}
