package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Exec.{KeySize, advance, cappedKeyGroups, keyPairs,
  materialize, materializeObserved, orderedSum, release, scoped}

/** Entity-importance over an interaction graph: fixed-iteration PageRank
  * (Page, Brin, Motwani, Winograd 1999) with uniform teleport and full
  * dangling-mass redistribution — the graph-centrality layer a
  * scholarly-analytics pipeline runs over citation / co-authorship edges
  * (the same iterate-materialize-release discipline as the
  * connected-components family next door in `Dedup`).
  *
  * Per iteration: r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)/outdeg(u) + D/N)
  * where D = Σ_{outdeg(u)=0} r(u) (dangling mass, redistributed
  * uniformly). Multi-edges collapse to simple edges first.
  *
  * Scale shape: set-up is ONE aggregate into a materialized vertex
  * frame (id, outdeg, nbrs[, is_source]) whose checkpoint also counts
  * N; each round is then ONE AQE-sized message exchange (see `walk`)
  * whose checkpoint observes the next round's dangling mass D, and the
  * last round is returned lazily — 2 Spark jobs a round, two scalars on
  * the driver, never a node table. The trade: a vertex's out-list
  * crosses the exchange every round (shuffle bytes grow with the edge
  * count), and D is a literal of the generated code, so a repeat on the
  * same graph reuses the compiled rounds while a new graph compiles its
  * own. Rounds are FIXED count, not convergence-probed: PageRank work
  * per round is constant, and the caller picks the depth/cost trade.
  *
  * `deterministic = true` is the cross-engine REPRO mode (the k-means /
  * BM25 pattern): per-dst contributions fold in ascending-src order via
  * sorted-array aggregate, and the dangling mass folds in ascending-id
  * order — bit-identical to the generated SQL oracle's
  * `list_sum(list(x ORDER BY ...))`. The dangling fold routes every
  * dangling rank through one sorted list in the checkpoint's observed
  * metric (the documented cost of bit-exactness, repro mode only). The
  * production default sums with ordinary partial aggregates: order-free
  * merge, last-ULP nondeterministic, linear-scalable.
  */
object Graph {

  /** PageRank over a (src, dst) edge list. Output: id, outdeg, rank.
    * Node set = endpoints of `edges`; callers with isolated nodes union
    * them in as self-free dangling ids upstream if they must rank. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 5, damping: Double = 0.85,
               deterministic: Boolean = false): DataFrame = scoped {
    require(iters >= 1, s"pageRank: iters=$iters must be >= 1")
    require(damping > 0 && damping < 1,
      s"pageRank: damping=$damping must be in (0, 1)")
    val (v, n, dm0) = vertexFrame(edges, src, dst, None)
    require(n > 0, "pageRank: empty graph")
    val nD = n.toDouble // exact below 2^53
    // seeded uniform; mirror the oracle's expression tree EXACTLY:
    // (1 - d)/n + d * (ct + dm/n)
    walk(v, iters, deterministic, lit(1.0 / nD), dm0) { (ct, dm) =>
      lit(1.0d - damping) / nD + lit(damping) *
        (coalesce(ct, lit(0.0d)) + lit(dm) / nD)
    }.select("id", "outdeg", "rank")
  }

  /** PERSONALIZED PageRank (Haveliwala 2002): the teleport mass lands
    * only on a caller-supplied source set instead of uniformly — "rank
    * relative to THESE papers/users", the related-item and
    * recommendation readout the uniform walk cannot express. Per
    * iteration r'(v) = (1−d)·t(v) + d·(Σ_{u→v} r(u)/outdeg(u) + D·t(v))
    * with t(v) = 1/|S∩V| on sources present in the graph and 0
    * elsewhere (sources not appearing as an edge endpoint are ignored —
    * they could neither receive nor emit mass); dangling mass
    * redistributes to the source set, so total mass stays 1.
    *
    * Shape, cost, and the `deterministic` repro contract are exactly
    * `pageRank`'s (one message exchange per round, fixed rounds); the
    * `is_source` flag rides the vertex frame, and its checkpoint counts
    * |S∩V| instead of N. Kept as its own method rather than a teleport
    * parameter on `pageRank`: the uniform path's `(1−d)/N` expression
    * tree is hash-pinned by its oracle, and rewriting it as
    * `(1−d)·t(v)` would round differently in the last ulp.
    *
    * Output: (id, outdeg, is_source, rank).
    */
  def personalizedPageRank(edges: DataFrame, src: Column, dst: Column,
                           sources: DataFrame, iters: Int = 5,
                           damping: Double = 0.85,
                           deterministic: Boolean = false): DataFrame = scoped {
    require(iters >= 1, s"personalizedPageRank: iters=$iters")
    require(damping > 0 && damping < 1,
      s"personalizedPageRank: damping=$damping")
    require(sources.columns.length == 1,
      "personalizedPageRank: sources must be a single vertex-id column, " +
        s"got ${sources.columns.mkString(", ")}")
    val (v, nS, dm0) = vertexFrame(edges, src, dst, Some(sources))
    require(nS > 0,
      "personalizedPageRank: no source id appears in the graph")
    val teleVal = 1.0 / nS.toDouble
    def tele: Column =
      when(col("is_source"), lit(teleVal)).otherwise(lit(0.0d))
    // mirrored by the oracle: (1 - d) * t + d * (ct + dm * t)
    walk(v, iters, deterministic, tele, dm0) { (ct, dm) =>
      lit(1.0d - damping) * tele + lit(damping) *
        (coalesce(ct, lit(0.0d)) + lit(dm) * tele)
    }.select("id", "outdeg", "is_source", "rank")
  }

  /** The materialized vertex frame (id, outdeg, nbrs[, is_source]) of
    * the simple directed graph on `edges`, from one aggregate: each edge
    * names its src with the neighbour and its dst without; a `sources`
    * id names itself flagged and counts only if an edge names it too.
    * Null endpoints are DROPPED (the alsRank/evalRanking convention): a
    * phantom node would inflate N and siphon mass from every real node.
    * Returns the frame, the size of the teleport set T (every vertex, or
    * the sources) and the round-0 dangling mass: |T∩dangling| copies of
    * 1/|T| added in sequence, the id-ordered fold of the round-0 ranks
    * (every other rank is 0.0, which adds nothing). */
  private def vertexFrame(edges: DataFrame, src: Column, dst: Column,
      sources: Option[DataFrame]): (DataFrame, Long, Double) = {
    def end(id: Column, nbr: Column, s: Boolean) =
      struct(id.cast("long").as("id"), nbr.as("nbr"), lit(s).as("s"))
    val ends = edges.select(src.cast("long").as("src"),
        dst.cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(end(col("src"), col("dst"), false),
        end(col("dst"), lit(null).cast("long"), false))).as("p"))
    val tagged = sources.fold(ends)(s => ends.union(
      s.select(end(col(s.columns.head), lit(null).cast("long"), true).as("p"))))
    val tp = if (sources.isDefined) col("is_source") else lit(true)
    val (v, m) = materializeObserved(tagged
        .groupBy(col("p.id").as("id"))
        .agg(collect_set(col("p.nbr")).as("nbrs"),
          bool_or(col("p.s")).as("is_source"),
          bool_and(col("p.s")).as("only_source"))
        .where(!col("only_source"))
        .select(Seq(col("id"), size(col("nbrs")).cast("long").as("outdeg"),
          col("nbrs")) ++ sources.map(_ => col("is_source")): _*),
      count(when(tp, 1)).as("t"),
      count(when(tp && col("outdeg") === 0, 1)).as("td"))
    val (t, td) = (m("t").asInstanceOf[Long], m("td").asInstanceOf[Long])
    (v, t, (0L until td).foldLeft(0.0)((acc, _) => acc + 1.0 / t))
  }

  /** The round core of both walkers: `iters` rounds over a
    * [[vertexFrame]] from rank `r0` and dangling mass `dm0`, `rank(ct,
    * dm)` the walker's own expression. A round is one `groupBy`
    * exchange: the explode emits a self row (`__to` null) carrying the
    * vertex's columns and one r/outdeg row per out-neighbour; the
    * aggregate folds those (ascending src in repro mode, `sum` in
    * production) and carries the columns on. Each checkpoint but the
    * last observes the dangling mass the next round reads. */
  private def walk(vertices: DataFrame, iters: Int, deterministic: Boolean,
                   r0: Column, dm0: Double)
                  (rank: (Column, Double) => Column): DataFrame = {
    val carried = vertices.columns.toSeq.filterNot(_ == "id")
    val self = col("__to").isNull
    val share = col("__r") / col("outdeg")
    def round(cur: DataFrame, r: Column, dm: Double): DataFrame = {
      val aggs = carried.map(k => first(col(k), ignoreNulls = true).as(k)) :+
        (if (deterministic) collect_list(col("m")) else sum(col("m"))).as("ct")
      cur.select(col("id") +: carried.map(col) :+ r.as("__r") :+
          explode(concat(array(lit(null).cast("long")), col("nbrs")))
            .as("__to"): _*)
        .select(coalesce(col("__to"), col("id")).as("id") +:
          carried.map(k => when(self, col(k)).as(k)) :+
          when(!self, if (deterministic)
            struct(col("id").as("src"), share.as("c")) else share).as("m"): _*)
        .groupBy("id").agg(aggs.head, aggs.tail: _*)
        .select(col("id") +: carried.map(col) :+ rank(
          if (deterministic) orderedSum(col("ct"), "c") else col("ct"), dm)
          .as("rank"): _*)
    }
    val dangling = col("outdeg") === 0
    val dm = (if (deterministic) orderedSum(collect_list(
        when(dangling, struct(col("id"), col("rank")))), "rank")
      else coalesce(sum(when(dangling, col("rank"))), lit(0.0d))).as("dm")
    var (cur, r, d) = (vertices, r0, dm0)
    for (_ <- 1 until iters) {
      val (next, m) = materializeObserved(round(cur, r, d), dm)
      release(cur)
      cur = next; r = col("rank"); d = m("dm").asInstanceOf[Double]
    }
    round(cur, r, d)
  }

  /** Co-citation counts (Small 1973): how many sources point at BOTH d1
    * and d2 — the classic "these two papers are related because others
    * cite them together" signal. Bibliographic coupling (Kessler 1963) is
    * the same count on the REVERSED edge list (targets sharing a source →
    * sources sharing a target), so callers swap src/dst for it.
    *
    * Scale guard: the per-source pair fan-out is quadratic in out-degree,
    * so sources with outdeg > `maxSrcOutDegree` are EXCLUDED from pair
    * generation (the inverted-index `maxDf` posture from the Jaccard
    * family: a hub that points at everything asserts no meaningful
    * pairwise association, and one 10⁶-out-degree hub would otherwise
    * emit 5·10¹¹ pairs). Exclusion is exact and mirrored by the oracle;
    * excluded sources are counted loudly in the `n_dropped_sources`
    * column of EVERY output row rather than logged-and-lost.
    *
    * Shape: the [[graft.exec.Exec.keyGroups]] pair generator keyed on
    * src (multi-edges collapse in its distinct; the cap and the dropped
    * count are its own), then one (d1, d2) hash aggregate with map-side
    * combine.
    */
  def coCitation(edges: DataFrame, src: Column, dst: Column,
                 maxSrcOutDegree: Long = 10000L): DataFrame = scoped {
    require(maxSrcOutDegree >= 2,
      s"coCitation: maxSrcOutDegree=$maxSrcOutDegree must be >= 2")
    val (kept, dropped) = cappedKeyGroups(
      edges.select(src.cast("long").as("src"), dst.cast("long").as("dst")),
      Seq("src"), "dst", maxSrcOutDegree)
    keyPairs(kept, Seq("src"), "dst")
      .groupBy(col("a.dst").as("d1"), col("b.dst").as("d2"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("n_dropped_sources", lit(dropped))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan,
    * Albert & Kumara 2007), fixed rounds: every node starts as its own
    * label; each round every node adopts the most frequent label among
    * its NEIGHBORS, ties broken deterministically by (count desc, label
    * asc). The deterministic tie-break replaces classic LPA's random
    * one, and the synchronous schedule replaces its order-dependent
    * async sweep — both so the result is a pure function of the graph
    * (oracle-able across engines). The known cost of that choice is
    * possible 2-cycle oscillation on bipartite-ish structures; fixed
    * `iters` reports round-k labels, and callers wanting a fixpoint run
    * with iters chosen by the diameter (the PageRank depth/cost
    * posture).
    *
    * Scale shape: per round ONE vertex-keyed join (neighbor labels) +
    * one (v, label) aggregate + one per-v top-1 window (partial
    * WindowGroupLimit keeps the shuffle skinny). Labels materialize per
    * round and the superseded round is released — the
    * connected-components storage discipline. Nothing is collected.
    *
    * Output: node, label (community = nodes sharing a label).
    */

  /** THE canonical undirected simple edge list (a, b) with a < b:
    * null endpoints dropped (the pageRank rule), self-loops dropped,
    * parallel edges collapsed. ONE definition for the undirected family
    * — labelPropagation, kCore, randomWalks, linkPrediction — which had
    * drifted into per-operator copies (a null-endpoint fix would have
    * needed four edits). `castLong = true` for the operators whose
    * hash-draw contract needs numeric ids (walks, link prediction);
    * label propagation and k-core accept any id type. */
  private def canonicalUndirected(edges: DataFrame, src: Column,
                                  dst: Column,
                                  castLong: Boolean): DataFrame =
    edges
      .select((if (castLong) src.cast("long") else src).as("x"),
        (if (castLong) dst.cast("long") else dst).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()

  /** Both directions of a [[canonicalUndirected]] frame as (uName,
    * nName) — the symmetric adjacency, one generator. */
  private def bothDirections(pairs: DataFrame, uName: String,
                             nName: String): DataFrame =
    pairs.select(explode(array(
        struct(col("a").as(uName), col("b").as(nName)),
        struct(col("b").as(uName), col("a").as(nName)))).as("p"))
      .select(col(s"p.$uName").as(uName), col(s"p.$nName").as(nName))

  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
                       iters: Int): DataFrame = scoped {
    require(iters >= 1, s"labelPropagation: iters=$iters must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val sym = materialize(
      bothDirections(canonicalUndirected(edges, src, dst,
        castLong = false), "v", "n"))
    var labels = materialize(
      sym.select(col("v")).distinct().withColumn("label", col("v")))
    var iter = 0
    while (iter < iters) {
      val w = Window.partitionBy("v")
        .orderBy(col("c").desc, col("label").asc)
      labels = advance(labels, sym
        .join(labels.select(col("v").as("n"), col("label")), Seq("n"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("v"), col("label")))
      iter += 1
    }
    labels.select(col("v").as("node"), col("label"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected simple graph — the community-structure layer next to
    * the connected-components family.
    *
    * Algorithm: degree orientation (Chiba & Nishizeki 1985 / the
    * MapReduce form in Suri & Vassilvitskii 2011): every edge is
    * directed from its (degree, id)-smaller endpoint, wedges are pairs
    * of out-edges sharing their source, and a wedge closes iff the
    * (canonically oriented) closing edge exists. The point is the scale
    * bound: oriented out-degree is O(√m) on ANY graph — a stopword hub
    * with 10⁶ neighbors becomes a near-sink and generates almost no
    * wedges, instead of the m_hub² blowup of the naive neighbor
    * self-join. Every count is an exact integer; each triangle is
    * produced exactly once.
    *
    * Node ids may be any orderable type (strings for word graphs).
    * Output: node, degree, n_tri, clustering (= 2T/(d(d−1)), null for
    * degree < 2).
    */
  def triangleCounts(edges: DataFrame, src: Column, dst: Column)
      : DataFrame = scoped {
    val und = materialize(edges
      .select(least(src, dst).as("a"), greatest(src, dst).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val deg = materialize(und
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg")))
    // orient from the (deg, id)-smaller endpoint; und already has a < b
    // by value, so degree ties orient by value — one GLOBAL total order
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = materialize(und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("lo"),
        when(aFirst, col("b")).otherwise(col("a")).as("hi"),
        when(aFirst, col("db")).otherwise(col("da")).as("dhi")))
    // canonical wedges (out-edge pairs ordered by the same global order)
    // + the closing edge, which — being between two order-larger nodes —
    // is necessarily oriented e1.hi → e2.hi if present
    val wedgeOrder = col("e1.dhi") < col("e2.dhi") ||
      (col("e1.dhi") === col("e2.dhi") && col("e1.hi") < col("e2.hi"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.lo") === col("e2.lo") && wedgeOrder)
      .join(oriented.as("e3"),
        col("e3.lo") === col("e1.hi") && col("e3.hi") === col("e2.hi"))
      .select(col("e1.lo").as("n1"), col("e1.hi").as("n2"),
        col("e2.hi").as("n3"))
    val perNode = tri
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("node"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          (lit(2) * coalesce(col("n_tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1))).as("clustering"))
  }

  /** Fixed-round k-core peeling over an undirected simple graph: each
    * round drops every vertex whose current degree is below `k`
    * (with all its edges), and the survivors of `rounds` rounds are
    * returned with their remaining degree — the densest-substructure
    * filter next to [[triangleCounts]] (cores are what's left when
    * peripheral tendrils are repeatedly shaved; a converged result is
    * exactly the classical k-core).
    *
    * The round count is a FIXED part of the contract — like
    * [[pageRank]] and [[labelPropagation]], fixed rounds make the
    * result a pure function of (graph, k, rounds) that an unrolled SQL
    * oracle replays exactly; peeling converges when a round removes
    * nothing, and `rounds` should be sized so it does (the spec pins a
    * case where convergence takes several rounds, and convergence is
    * observable: every returned degree >= k iff converged).
    *
    * Scale per round: one partial+final degree count and two semi-joins
    * on vertex ids — all high-cardinality keys; the edge frame is
    * materialized per round and the superseded round's storage
    * released (the family's iterate-materialize-release discipline).
    * Rounds are O(peel depth), bounded by the graph's degeneracy, NOT
    * by diameter.
    */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
            rounds: Int): DataFrame = scoped {
    require(k >= 1, s"kCore: k=$k must be >= 1")
    require(rounds >= 1, s"kCore: rounds=$rounds must be >= 1")
    var sym = materialize(
      bothDirections(canonicalUndirected(edges, src, dst,
        castLong = false), "v", "n"))
    var r = 0
    while (r < rounds) {
      val keep = sym.groupBy("v").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("v")
      sym = advance(sym, sym
        .join(keep, Seq("v"), "left_semi")
        .join(keep.select(col("v").as("n")), Seq("n"), "left_semi"))
      r += 1
    }
    sym.groupBy("v").agg(count(lit(1)).as("degree"))
      .select(col("v").as("node"), col("degree"))
  }

  /** Fixed-round multi-source BFS: hop distance from the NEAREST source
    * for every vertex reachable within `rounds` hops (unreached vertices
    * are absent — the caller left-joins if it needs them). The
    * reachability layer of the graph family: citation-influence radius,
    * contamination blast radius over a link graph, seed-expansion for
    * curation — anywhere "within k hops of these ids" is the filter.
    *
    * Like [[pageRank]] / [[labelPropagation]] / [[kCore]], the round
    * count is a FIXED part of the contract, so the result is a pure
    * function of (edges, sources, rounds) that an unrolled SQL oracle
    * replays exactly; distances are exact for every vertex within
    * `rounds` hops (a vertex first reached in round r has true distance
    * r — frontier expansion never revisits at a smaller distance).
    *
    * Scale per round: ONE frontier⋈edges hash join on the source-vertex
    * key plus one min-distance aggregate over (visited ∪ newly reached)
    * — both keyed on high-cardinality vertex ids; the distance frame is
    * materialized per round and the superseded round's storage released.
    * The frontier join is keyed on the CURRENT frontier only (a filter
    * on the materialized frame — no growing re-expansion), so per-round
    * work tracks the frontier, while the aggregate tracks the visited
    * set — the standard distributed-BFS cost shape, NOT quadratic in
    * rounds. `directed = false` symmetrizes the edge list first.
    */
  def bfs(edges: DataFrame, src: Column, dst: Column, sources: DataFrame,
          rounds: Int, directed: Boolean = true): DataFrame = scoped {
    require(rounds >= 1, s"bfs: rounds=$rounds must be >= 1")
    require(sources.columns.length == 1,
      s"bfs: sources must be a single vertex-id column, got " +
        sources.columns.mkString(", "))
    val fwd = edges.select(src.as("a"), dst.as("b"))
    val e = materialize(
      (if (directed) fwd
       else fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b"))))
        .where(col("a") =!= col("b")).distinct())
    // seed only sources that ARE graph vertices (the PPR rule): a stale
    // or null source id must not surface as a phantom dist-0 "reachable"
    // row in the output
    val vertices = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v"))).distinct()
    var dist = materialize(sources.toDF("v").distinct()
      .join(vertices, Seq("v"), "left_semi")
      .select(col("v"), lit(0).as("dist")))
    var r = 1
    while (r <= rounds) {
      val reached = dist.where(col("dist") === r - 1)
        .join(e, col("v") === col("a"), "inner")
        .select(col("b").as("v"), lit(r).as("dist"))
      dist = advance(dist, dist.unionByName(reached)
        .groupBy("v").agg(min(col("dist")).as("dist")))
      r += 1
    }
    dist.select(col("v").as("node"), col("dist"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a directed edge
    * list, fixed `iters` full rounds, UNNORMALIZED: starting from
    * h₀ = 1 everywhere, each round computes a(v) = Σ_{u→v} h(u) then
    * h(u) = Σ_{u→v} a(v). Skipping the per-round normalization keeps
    * every score an exact INTEGER — after r rounds h/a are alternating-
    * path counts, so the whole result is engine-bit-identical with no
    * float folds, no repro mode, no ordered aggregates (the division
    * classic HITS applies per round only rescales: the RANKING is
    * identical, and the share columns apply it once at readout as a
    * single correctly-rounded cast + one IEEE division each). Scores
    * grow like (d_max²)^iters; ANSI mode fails the job loudly on long
    * overflow rather than ranking on wrapped counts — at web-graph
    * scale use 2-3 rounds, which is where HITS rankings stabilize.
    *
    * Scale shape: per round two edges⋈scores hash joins (keyed on the
    * high-cardinality src / dst) + two per-node partial aggregates.
    * Hub frames materialize per round and the superseded round is
    * released (the `pageRank` discipline); authority frames chain
    * lazily into the same round's hub fold, and only the last round's
    * authorities are materialized, because totals and readout read
    * them again. The two share denominators ride one broadcast row,
    * never collected.
    *
    * Output: (id, hub, auth, hub_share, auth_share) for every node.
    */
  def hits(edges: DataFrame, src: Column, dst: Column,
           iters: Int = 2): DataFrame = scoped {
    require(iters >= 1, s"hits: iters=$iters must be >= 1")
    val e = materialize(
      edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull) // pageRank rule
        .distinct())
    require(!e.isEmpty, "hits: empty edge list")
    val nodes = materialize(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    var hubs = materialize(nodes.select(col("id"), lit(1L).as("h")))
    var auths: DataFrame = null
    for (it <- 1 to iters) {
      val aSum = e.join(hubs.select(col("id").as("src"), col("h")),
          Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
      val aFrame = nodes.join(aSum, Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
      // within a round the authority frame has exactly ONE consumer
      // (the hub fold), so it chains LAZILY into the hub action — both
      // per-round aggregates run in one job/materialize instead of two
      // (r13; the walk-tier lazy-chaining lesson, guide §1.2). Only the
      // LAST round's authorities are consumed again (totals + readout),
      // so only that frame is materialized.
      val aRef =
        if (it == iters) { auths = materialize(aFrame); auths }
        else aFrame
      val hSum = e.join(aRef.select(col("id").as("dst"), col("a")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
      hubs = advance(hubs, nodes.join(hSum, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h")))
    }
    // share denominators: exact DECIMAL sums (a long total could
    // overflow even when every score fits), one correctly-rounded cast
    // to double each — not collected, one broadcast row
    val totals = hubs.agg(sum(col("h").cast("decimal(38,0)")).as("th"))
      .crossJoin(auths.agg(sum(col("a").cast("decimal(38,0)")).as("ta")))
    hubs.join(auths, Seq("id"))
      .crossJoin(broadcast(totals))
      .select(col("id"), col("h").as("hub"), col("a").as("auth"),
        (col("h").cast("double") /
          nullif(col("th").cast("double"), lit(0.0))).as("hub_share"),
        (col("a").cast("double") /
          nullif(col("ta").cast("double"), lit(0.0))).as("auth_share"))
  }

  /** Link prediction over an undirected simple graph: score NON-edges by
    * neighborhood overlap — `n_common` = |N(a)∩N(b)| (exact integer),
    * Jaccard = n_common / (deg_a + deg_b − n_common) (integer operands,
    * one IEEE division — bit-identical across engines, so raw doubles
    * hash-match), plus the degree-weighted pair from Liben-Nowell &
    * Kleinberg 2003: Adamic–Adar = Σ_w 1/ln(deg w) and resource
    * allocation = Σ_w 1/deg w over the shared wedge centers w. The two
    * float sums fold over the center degrees sorted ASCENDING
    * (`array_sort` → sequential `aggregate`), the repo's cross-engine
    * determinism convention. Resource allocation is bit-portable (each
    * term is one exact-rounded division) and sits under the oracle
    * hash; Adamic–Adar rides ln — StrictMath in Spark, libm in DuckDB,
    * last-ULP divergent (the repo's standing ln rule) — so it stays
    * OUT of hashed oracle output and is spec-pinned against
    * `StrictMath.log` instead. Centers have deg ≥ 2 by wedge
    * construction, so ln(deg) > 0 — no division hazard.
    * The "papers likely to cite each other next" / "items likely to
    * co-occur next" recommender signal.
    *
    * Candidate generation is the wedge pass from [[triangleCounts]]'
    * family: a pair is scored iff some shared neighbor (wedge center)
    * generates it — exactly the pairs with n_common >= 1, so no N²
    * enumeration ever exists. Existing edges are anti-joined out (they
    * are facts, not predictions).
    *
    * Scale guard: wedge fan-out is quadratic in center degree, so
    * centers with degree > `maxCenterDegree` are EXCLUDED from wedge
    * generation (the coCitation hub posture: a node connected to
    * everything predicts nothing pairwise). Exclusion is exact and
    * mirrored by the oracle; `n_dropped_centers` rides every output row.
    * Endpoint DEGREES stay exact (computed before the cap), so Jaccard
    * through capped graphs is a documented lower bound on n_common over
    * exact degrees.
    *
    * Shape: one canonical-edge distinct (materialized: feeds the
    * symmetric adjacency, the anti-join, and degrees), the
    * [[graft.exec.Exec.keyGroups]] pair generator keyed on the wedge
    * centre (its capped size is the centre degree the weighted scores
    * fold), one (a, b) hash aggregate with map-side combine, the
    * anti-join, and two vertex-keyed degree joins (vertex tables at
    * graph scale are NOT assumed broadcastable).
    *
    * Output: a, b, n_common, deg_a, deg_b, jaccard, adamic_adar,
    * resource_alloc, n_dropped_centers (a < b, (a,b) ∉ edges).
    */
  def linkPrediction(edges: DataFrame, src: Column, dst: Column,
                     maxCenterDegree: Long = 10000L): DataFrame = scoped {
    require(maxCenterDegree >= 2,
      s"linkPrediction: maxCenterDegree=$maxCenterDegree must be >= 2")
    // canonical undirected simple edges (self-loops out, a < b)
    val e = materialize(
      canonicalUndirected(edges, src, dst, castLong = true))
    val sym = bothDirections(e, "w", "n")
    val deg = sym.groupBy("w").agg(count(lit(1)).as("deg"))
    val (wedges, dropped) = cappedKeyGroups(sym, Seq("w"), "n",
      maxCenterDegree)
    val cand = keyPairs(wedges, Seq("w"), "n")
      .groupBy(col("a.n").as("a"), col("b.n").as("b"))
      .agg(count(lit(1)).as("n_common"),
        sort_array(collect_list(col(s"a.$KeySize"))).as("cdegs"))
      .join(e, Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("w").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("w").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
      .withColumn("adamic_adar", aggregate(col("cdegs"), lit(0.0d),
        (acc, d) => acc + lit(1.0d) / log(d.cast("double"))))
      .withColumn("resource_alloc", aggregate(col("cdegs"), lit(0.0d),
        (acc, d) => acc + lit(1.0d) / d.cast("double")))
      .select("a", "b", "n_common", "deg_a", "deg_b", "jaccard",
        "adamic_adar", "resource_alloc")
      .withColumn("n_dropped_centers", lit(dropped))
  }

  /** DeepWalk-style random-walk corpus generation (Perozzi et al. 2014):
    * `walksPerNode` uniform walks of `walkLen` steps from every node of
    * the undirected simple graph, emitted as (start, walk, step, node)
    * rows — the "sentences" a skip-gram / node-embedding trainer
    * consumes, and the graph-side mirror of the text corpus samplers.
    *
    * Determinism (the md5-draw convention): the step-t draw for walker
    * (start, walk) is `hexPrefix12(md5(seed:start:walk:t)) mod
    * deg(cur)` — the 12-hex width every walk-family draw shares, so
    * [[randomWalksWeighted]] with w ≡ 1 is corpus-identical —
    * into the neighbor list ranked by ascending neighbor id, a pure
    * function of (graph, seed), replayed verbatim by the generated SQL
    * oracle. Same seed → identical corpus on every run and engine; a new
    * seed → an independent walk set.
    *
    * Scale shape: the ranked adjacency (u, rank, nbr, nbr_deg) is
    * materialized ONCE (one window over the symmetric edge list + one
    * degree join). Walk state carries (cur, cur_deg) plus the walk
    * HISTORY as an in-row array, so every step is ONE equi join on
    * (u, rank) with exactly one match per walker — no per-step windows,
    * no non-equi predicates, no driver-side state (the driver never
    * holds a single walk). Because the length is FIXED (no convergence
    * probe, unlike [[pageRank]]), the step joins chain LAZILY inside a
    * single action: the adjacency side of every step hashes identically,
    * so the physical plan reuses ONE adj exchange across all walkLen
    * joins, and only the final (start, walk, step, node) corpus is
    * checkpointed (r12: the previous shape checkpointed every step frame
    * — walkLen+2 driver actions and (walkLen+1)·W checkpointed rows per
    * corpus, measured 2.5-3 s of pure job/checkpoint overhead at sf0.1;
    * peak storage is unchanged, rows ride wider but exactly once).
    * Walkers never strand: the symmetric adjacency gives every node
    * degree ≥ 1.
    *
    * Output: start, walk (0-based), step (0 = the start node itself),
    * node.
    */
  def randomWalks(edges: DataFrame, src: Column, dst: Column,
                  walkLen: Int, walksPerNode: Int = 1,
                  seed: String = "graft"): DataFrame = scoped {
    require(walkLen >= 1, s"randomWalks: walkLen=$walkLen must be >= 1")
    require(walksPerNode >= 1,
      s"randomWalks: walksPerNode=$walksPerNode must be >= 1")
    val sym = bothDirections(
      canonicalUndirected(edges, src, dst, castLong = true), "u", "n")
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    // ranked adjacency joined with each NEIGHBOR's degree, so walk
    // state always knows the modulus for its next draw
    val adj = materialize(sym
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy("n")) - 1)
      .join(deg.select(col("u").as("n"), col("deg").as("nbr_deg")),
        Seq("n"))
      .select(col("u"), col("rank"), col("n").as("nbr"), col("nbr_deg")))
    val draw = (step: Int) => pmod(
      conv(substring(md5(concat_ws(":", lit(seed),
        col("start").cast("string"), col("walk").cast("string"),
        lit(step).cast("string"))), 1, 12), 16, 10).cast("long"),
      col("cur_deg"))
    // per-node degree read back off the adj CHECKPOINT (deg(u) =
    // max(rank)+1 by construction of the ranked adjacency): deriving it
    // from `deg` instead would re-execute the whole raw-edge scan +
    // distinct + aggregate as a second action (exchange reuse does not
    // cross actions — the Cooccur lesson)
    var cur = adj
      .groupBy(col("u"))
      .agg((max(col("rank")) + lit(1)).cast("long").as("cur_deg"))
      .select(col("u").as("start"), col("cur_deg"))
      .crossJoin(walkIndexFrame(edges, walksPerNode))
      .select(col("start"), col("walk"),
        array(col("start")).as("hist"), col("start").as("cur"),
        col("cur_deg"))
    // fixed-length loop, so the step joins chain lazily (see scaladoc):
    // each round appends the stepped-to node to the in-row history and
    // re-keys state on it; every adj side is the same checkpointed frame
    // hashed the same way, so execution reuses one exchange for all steps
    (1 to walkLen).foreach { t =>
      cur = cur
        .withColumn("r", draw(t))
        .join(adj, col("cur") === col("u") && col("r") === col("rank"))
        .select(col("start"), col("walk"),
          concat(col("hist"), array(col("nbr"))).as("hist"),
          col("nbr").as("cur"), col("nbr_deg").as("cur_deg"))
    }
    // ONE materialization: the finished corpus (same rows as the old
    // per-step-union shape — posexplode's pos IS the step index)
    materialize(cur.select(col("start"), col("walk"),
      posexplode(col("hist")).as(Seq("step", "node"))))
  }

  /** Skip-gram training pairs from a [[randomWalks]] corpus (the
    * DeepWalk readout): each unordered node pair co-occurring within
    * `window` steps of the same walk, counted once per occurrence —
    * exactly the (center, context) multiset a word2vec-style node
    * embedder trains on, and the graph mirror of
    * `Cooccur.windowCooccur`'s text pairs.
    *
    * Shape: one positional self-join keyed on (start, walk) — high
    * cardinality, one walker per key, ≤ walkLen·window matched pairs
    * per walk — then one (w1, w2) hash aggregate with map-side
    * combine. Pairs orient least/greatest; a walk revisiting a node
    * within the window yields the (x, x) self-pair, kept (word2vec
    * keeps them too) and counted exactly.
    *
    * Output: w1, w2, n_pair (n_pair >= minCount).
    */
  def walkSkipGramPairs(walks: DataFrame, window: Int = 2,
                        minCount: Long = 1L): DataFrame = {
    require(window >= 1,
      s"walkSkipGramPairs: window=$window must be >= 1")
    val a = walks.select(col("start"), col("walk"), col("step"),
      col("node"))
    a.as("a").join(a.as("b"),
        col("a.start") === col("b.start") &&
          col("a.walk") === col("b.walk") &&
          col("b.step") > col("a.step") &&
          col("b.step") <= col("a.step") + window)
      .select(least(col("a.node"), col("b.node")).as("w1"),
        greatest(col("a.node"), col("b.node")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
  }

  /** Weight-proportional random walks: [[randomWalks]] where the step-t
    * transition picks neighbor n of u with probability w(u,n)/Σw(u,·)
    * — the weighted first-order walk (node2vec p=q=1 over a weighted
    * graph; co-occurrence counts are the natural weights on the
    * co-purchase/citation graphs). With w ≡ 1 the draw `hex12(md5(…))
    * mod Σw` equals the unweighted `mod deg` and the intervals
    * degenerate to ranks, so the two operators emit IDENTICAL corpora
    * (spec-pinned) — the unweighted form just keeps its cheaper exact
    * (u, rank) equi join.
    *
    * Integer mechanics (the [[negativeSamples]] pattern, per
    * adjacency list): duplicate canonical edges SUM their weights;
    * each u's neighbors carry cumulative [lo, hi] intervals in
    * ascending-neighbor order (exact BIGINT sums), and the draw is
    * `hexPrefix12(md5(seed:start:walk:t)) mod Σw(u)` resolved through
    * the grid-bucketed [[IntervalJoin.overlapJoin]] with u as the equi
    * key — never a per-step nested loop, ~1 interval per (u, cell) at
    * the auto width (the global average edge weight). State carries
    * the NEXT node's total, so no re-join against the totals table.
    *
    * Output: start, walk, step, node — same contract as
    * [[randomWalks]].
    */
  def randomWalksWeighted(edges: DataFrame, src: Column, dst: Column,
                          weight: Column, walkLen: Int,
                          walksPerNode: Int = 1, seed: String = "graft",
                          bucketWidth: Long = 0L): DataFrame = scoped {
    require(walkLen >= 1,
      s"randomWalksWeighted: walkLen=$walkLen must be >= 1")
    require(walksPerNode >= 1,
      s"randomWalksWeighted: walksPerNode=$walksPerNode must be >= 1")
    val e = edges
      .select(src.cast("long").as("x"), dst.cast("long").as("y"),
        weight.cast("long").as("wt"))
      .where(col("x") =!= col("y") && col("wt") > 0)
      .groupBy(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .agg(sum("wt").as("wt"))
    val sym = e.select(explode(array(
        struct(col("a").as("u"), col("b").as("n"), col("wt")),
        struct(col("b").as("u"), col("a").as("n"), col("wt")))).as("p"))
      .select(col("p.u").as("u"), col("p.n").as("n"),
        col("p.wt").as("wt"))
    val tot = sym.groupBy("u").agg(sum("wt").as("total"))
    val adjW = materialize(sym
      .withColumn("hi", sum("wt").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy("n")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .select(col("u"), (col("hi") - col("wt")).as("lo"),
        (col("hi") - 1).as("hi_incl"), col("n").as("nbr"))
      .join(tot.select(col("u").as("nbr"), col("total").as("nbr_total")),
        Seq("nbr")))
    // per-node totals and the global stats read back off the adjW
    // CHECKPOINT (total(u) = max(hi_incl)+1 by construction of the
    // cumulative intervals) — deriving them from `tot`/`sym` would
    // re-execute the raw-edge scan + aggregate as two more actions
    val perU = adjW.groupBy(col("u"))
      .agg((max(col("hi_incl")) + lit(1L)).as("cur_total"),
        count(lit(1)).as("n_edges"))
    // auto grid width = the global average edge weight (the
    // negativeSamples occupancy rule); three driver scalars
    val stats =
      perU.agg(sum("cur_total"), sum("n_edges"), max("cur_total")).head()
    // sum is NULL (not 0) over an empty frame — an all-self-loop /
    // all-nonpositive-weight edge list must fail with the CAUSE, not a
    // downstream NullPointerException (the hits() empty-edge posture)
    require(!stats.isNullAt(0),
      "randomWalksWeighted: no usable edges after filtering — every " +
        "edge was a self-loop or had weight <= 0")
    // the step draw is 12 md5 hex digits (< 2^48): a node whose summed
    // incident weight reaches that could never route to its interval
    // tail — neighbors above 2^48 would SILENTLY get probability zero
    // (the negativeSamples guard, applied per node here)
    require(stats.getLong(2) < (1L << 48),
      s"randomWalksWeighted: a node's total incident weight " +
        s"(${stats.getLong(2)}) exceeds the 12-hex draw space (2^48) — " +
        "rescale weights upstream")
    val width =
      if (bucketWidth > 0) bucketWidth
      else math.max(1L, stats.getLong(0) / math.max(1L, stats.getLong(1)))
    val draw = (step: Int) => pmod(
      conv(substring(md5(concat_ws(":", lit(seed),
        col("start").cast("string"), col("walk").cast("string"),
        lit(step).cast("string"))), 1, 12), 16, 10).cast("long"),
      col("cur_total"))
    var cur = perU
      .select(col("u").as("start"), col("cur_total"))
      .crossJoin(walkIndexFrame(edges, walksPerNode))
      .select(col("start"), col("walk"),
        array(col("start")).as("hist"), col("start").as("u"),
        col("cur_total"))
    // fixed-length loop: step interval joins chain LAZILY with the walk
    // history accumulated in-row, one final materialization — the
    // [[randomWalks]] r12 shape (see its scaladoc); the per-step
    // checkpoints bought nothing here either (no convergence probe)
    (1 to walkLen).foreach { t =>
      val stepped = cur.withColumn("r", draw(t))
        .withColumn("r2", col("r"))
      cur = IntervalJoin.overlapJoin(stepped, adjW, "r", "r2",
          "lo", "hi_incl", bucketWidth = width, equiKeys = Seq("u"))
        .select(col("start"), col("walk"),
          concat(col("hist"), array(col("nbr"))).as("hist"),
          col("nbr").as("u"), col("nbr_total").as("cur_total"))
    }
    materialize(cur.select(col("start"), col("walk"),
      posexplode(col("hist")).as(Seq("step", "node"))))
  }

  /** Word2vec-style negative sampling over a [[randomWalks]] corpus:
    * `negatives` noise nodes per walk position, drawn from the
    * unigram^(3/4) distribution (Mikolov et al. 2013) — the third leg
    * of the embedding-training triple (walks → skip-gram pairs →
    * negatives).
    *
    * Bit-portable smoothing WITHOUT pow(): the noise weight is
    * `floor(sqrt(sqrt(freq³)))` = ⌊freq^0.75⌋. freq³ is exact integer
    * arithmetic below 2⁵³ (freq capped at `maxFreq` first — the cap is
    * ALSO the standard noise-table truncation for stopword-class
    * nodes), and IEEE-754 requires sqrt be correctly rounded in both
    * Spark (Math.sqrt) and DuckDB (libm) — so the composed double is
    * identical across engines and its floor is an exact BIGINT weight.
    * Everything downstream is integer: cumulative [lo, hi) intervals
    * over nodes in ascending-id order (order-independent integer sums),
    * and the step draw `hexPrefix12(md5(seed:start:walk:step:j)) mod
    * total` — a pure function of (corpus, seed).
    *
    * Scale shape: the noise table is vocab-sized (one groupBy over the
    * walk corpus), and its cumulative intervals are
    * [[Shard.twoPhasePrefix]] over 256 contiguous id ranges (see
    * [[noiseTable]]) — bit-identical to a global-window build while
    * never funneling a web-scale vocabulary through one window
    * partition. The draw→node lookup is the grid-bucketed
    * [[IntervalJoin.overlapJoin]] (point-in-interval), never a
    * nested-loop range join. Total weight rides the driver as ONE
    * scalar (the k-means-centroid bound).
    *
    * Output: start, walk, step, j (0-based draw index), neg (node id).
    */
  def negativeSamples(walks: DataFrame, negatives: Int,
                      seed: String = "graft", maxFreq: Long = 100000L,
                      bucketWidth: Long = 0L): DataFrame = scoped {
    require(negatives >= 1,
      s"negativeSamples: negatives=$negatives must be >= 1")
    require(maxFreq >= 1 && maxFreq <= 200000L,
      s"negativeSamples: maxFreq=$maxFreq must be in [1, 200000] " +
        "(freq³ must stay below 2⁵³ for the exact-integer cube)")
    val spark = walks.sparkSession
    import spark.implicits._
    val (cumPlan, total, vocabN) = noiseTable(walks, maxFreq)
    val cum = materialize(cumPlan)
    require(total < (1L << 48),
      s"negativeSamples: total noise weight $total exceeds the 12-hex " +
        "draw space; raise the draw width or lower maxFreq")
    // auto grid width = the AVERAGE noise weight, so each cell holds
    // ~1 interval and each draw lands in ~1 cell — the occupancy that
    // keeps the grid join linear. A caller-pinned width that leaves
    // only a handful of cells degrades to per-cell cross products
    // (measured: 30 cells over a 2M-weight table was 30× slower than
    // the auto width at 3.6M draws).
    val width =
      if (bucketWidth > 0) bucketWidth
      else math.max(1L, total / math.max(1L, vocabN))
    val draws = walks.select(col("start"), col("walk"), col("step"))
      .crossJoin((0 until negatives).toDF("j"))
      .withColumn("u", pmod(
        conv(substring(md5(concat_ws(":", lit(seed),
          col("start").cast("string"), col("walk").cast("string"),
          col("step").cast("string"), col("j").cast("string"))),
          1, 12), 16, 10).cast("long"),
        lit(total)))
      .withColumn("u2", col("u"))
    IntervalJoin.overlapJoin(draws, cum, "u", "u2", "lo", "hi_incl",
        bucketWidth = width)
      .select(col("start"), col("walk"), col("step"), col("j"),
        col("node").as("neg"))
  }

  /** The UNMATERIALIZED noise-table build behind [[negativeSamples]]
    * (split out so specs can assert on its executed plan): cumulative
    * [lo, hi_incl] intervals per node in ascending-id order, the
    * running weight sum of [[Shard.twoPhasePrefix]]. Bucket = top bits
    * of the id offset from the collected min — MONOTONE in node, so
    * buckets are contiguous id ranges and ≤256 of them. Returns (cum
    * plan, total weight, vocab size); the plan reads a weight table
    * materialized into the caller's scope. */
  private[graft] def noiseTable(walks: DataFrame, maxFreq: Long)
      : (DataFrame, Long, Long) = {
    val f = least(col("freq"), lit(maxFreq)).cast("double")
    // the weight table materializes FIRST: the two-phase build reads it
    // three times (id span, bucket totals, cumulative pass) and each
    // read must hit the vocab-sized checkpoint, not re-run the
    // corpus-sized groupBy behind it
    val wt = materialize(walks.groupBy(col("node"))
      .agg(count(lit(1)).as("freq"))
      .select(col("node"),
        greatest(lit(1L), floor(sqrt(sqrt(f * f * f)))).as("w")))
    val mmRow = wt.agg(min(col("node").cast("long")),
      max(col("node").cast("long")), count(lit(1))).head()
    require(!mmRow.isNullAt(0),
      "negativeSamples: empty walk corpus — no nodes to build a noise " +
        "table from (zero walk rows or all-null node ids)")
    val minNode = mmRow.getLong(0)
    val span = BigInt(mmRow.getLong(1)) - BigInt(minNode)
    require(span < (BigInt(1) << 62),
      s"negativeSamples: node id span $span exceeds 2^62 — remap ids " +
        "to a dense range before sampling")
    val shift = math.max(0, span.bitLength - 8) // ≤ 256 buckets
    // a PARTIALLY-null node column would otherwise form a null bucket
    // and die later with an opaque NPE in the offsets build — fail with
    // the same descriptive message shape as the empty-corpus case
    val bucketed = wt.withColumn("__bucket",
      when(col("node").isNull, raise_error(lit("negativeSamples: null " +
        "node ids in the walk corpus — filter null nodes upstream")))
      .otherwise(shiftright(col("node").cast("long") - lit(minNode), shift)
        .cast("int")))
    val (cum, total) = Shard.twoPhasePrefix(bucketed, "__bucket",
      Seq(col("node")), col("w"), "hi")
    (cum.select(col("node"), (col("hi") - col("w")).as("lo"),
        (col("hi") - 1).as("hi_incl")), total, mmRow.getLong(2))
  }

  /** A tiny (walk = 0..walksPerNode−1) frame for the walk fan-out —
    * literal rows, no range() codepath differences to mirror. */
  private def walkIndexFrame(edges: DataFrame,
                             walksPerNode: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    (0 until walksPerNode).toDF("walk")
  }
}
