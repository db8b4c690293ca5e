package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec.{advance, cappedKeyGroups, keyPairs, materialize,
  release, scoped, workParallelism}

/** Item-item collaborative filtering over basket memberships — the
  * "customers who bought X also bought Y" tier (Linden, Smith & York 2003,
  * Amazon item-to-item CF; Sarwar et al. 2001 item-based CF). The
  * reference's domain analog is related-record suggestion over shared
  * citation baskets; the engine form works over any (basket, item)
  * membership table: orders×parts, sessions×pages, papers×keywords.
  *
  * Three composable stages, each relational and oracle-able:
  *  - [[itemSimilarity]]: exact co-occurrence counts + binary-cosine
  *    similarity per unordered item pair;
  *  - [[topNeighbors]]: the per-item k-nearest-neighbor model (the
  *    artifact a serving tier ships);
  *  - [[recommendForUsers]]: fold a user's owned items through the
  *    neighbor model into unseen-item scores.
  *
  * Cross-engine exactness: every count is an exact integer; the one float
  * per similarity row is cosine = n_cooc / sqrt(n_i1·n_i2), where the
  * product of counts is exactly representable (< 2^53), `sqrt` is
  * IEEE-correctly-rounded in both engines, and the single division is
  * exactly rounded — so raw doubles sit under the hash oracle with no
  * fold discipline needed. User-level scores are pure integer sums.
  */
object Recommend {

  /** Exact item-item co-occurrence with binary-cosine scores.
    *
    * Semantics: memberships collapse to DISTINCT (basket, item); for every
    * unordered pair of distinct items sharing a basket, `n_cooc` = number
    * of shared baskets (among KEPT baskets — see the cap), `n_i1`/`n_i2` =
    * per-item basket counts over the same kept set (so the cosine is
    * internally consistent: 0 < cosine <= 1, exactly 1 iff the items'
    * basket sets coincide). Pairs below `minCooc` are pruned AFTER
    * aggregation (a threshold, not a sampling bias).
    *
    * Scale guard (the coCitation / inverted-index `maxDf` posture): the
    * per-basket pair fan-out is quadratic in basket size, so baskets
    * larger than `maxBasketSize` are EXCLUDED from pairing and marginals
    * — a basket containing everything asserts no meaningful pairwise
    * preference, and one 10⁶-item basket would otherwise emit 5·10¹¹
    * pairs. Exclusion is exact, mirrored by the oracle, and counted
    * loudly in `n_dropped_baskets` on every output row.
    *
    * Shape: the [[graft.exec.Exec.keyGroups]] pair generator keyed on
    * basket (the distinct, the size cap and the dropped count are its
    * own); its materialized output is the pairing corpus and feeds the
    * marginals and both self-join sides. Then one (i1, i2) hash
    * aggregate with map-side combine collapsing hot pairs before the
    * shuffle, and two item-keyed marginal joins (item tables at catalog
    * scale are NOT assumed broadcastable — they shuffle; AQE may still
    * elect broadcast when small).
    *
    * Output: i1, i2, n_cooc, n_i1, n_i2, cosine, n_dropped_baskets
    * (i1 < i2).
    */
  def itemSimilarity(memberships: DataFrame, basket: Column, item: Column,
                     maxBasketSize: Long = 1000L,
                     minCooc: Long = 1L): DataFrame = scoped {
    require(maxBasketSize >= 2,
      s"itemSimilarity: maxBasketSize=$maxBasketSize must be >= 2")
    require(minCooc >= 1, s"itemSimilarity: minCooc=$minCooc must be >= 1")
    val (kept, dropped) = cappedKeyGroups(
      memberships.select(basket.cast("long").as("b"),
        item.cast("long").as("i")),
      Seq("b"), "i", maxBasketSize)
    val marg = kept.groupBy("i").agg(count(lit(1)).as("n_i"))
    val pairs = keyPairs(kept, Seq("b"), "i")
      .groupBy(col("a.i").as("i1"), col("b.i").as("i2"))
      .agg(count(lit(1)).as("n_cooc"))
      .where(col("n_cooc") >= minCooc)
    pairs
      .join(marg.select(col("i").as("i1"), col("n_i").as("n_i1")), Seq("i1"))
      .join(marg.select(col("i").as("i2"), col("n_i").as("n_i2")), Seq("i2"))
      .withColumn("cosine", col("n_cooc").cast("double") /
        // the bit-exactness contract needs n_i1*n_i2 exactly
        // representable as a double; enforce the documented 2^53 bound
        // loudly instead of letting the hash-oracle parity rot silently
        sqrt(when(col("n_i1") * col("n_i2") < lit(1L << 53),
            col("n_i1") * col("n_i2"))
          .otherwise(raise_error(concat(lit("itemSimilarity: n_i1*n_i2 " +
            "= "), (col("n_i1") * col("n_i2")).cast("string"),
            lit(" >= 2^53 — the exact-double cosine contract breaks; " +
              "cap item frequencies upstream")))).cast("double")))
      .select("i1", "i2", "n_cooc", "n_i1", "n_i2", "cosine")
      .withColumn("n_dropped_baskets", lit(dropped))
  }

  /** Per-item top-k neighbor model from [[itemSimilarity]] output: pairs
    * mirror to both directions through ONE generator (explode — a
    * two-projection union would evaluate the upstream similarity twice),
    * then a per-item row_number cut, deterministic on (cosine desc,
    * n_cooc desc, nbr asc). The rank-1..k filter plans as a partial
    * WindowGroupLimit, so each map task ships at most k rows per item
    * into the window exchange — the shuffle carries the model, not the
    * pair table.
    *
    * Output: item, nbr, n_cooc, cosine, rnk (1-based).
    */
  def topNeighbors(sims: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topNeighbors: k=$k must be >= 1")
    val mirrored = sims.select(explode(array(
        struct(col("i1").as("item"), col("i2").as("nbr"),
          col("n_cooc"), col("cosine")),
        struct(col("i2").as("item"), col("i1").as("nbr"),
          col("n_cooc"), col("cosine")))).as("p"))
      .select(col("p.item").as("item"), col("p.nbr").as("nbr"),
        col("p.n_cooc").as("n_cooc"), col("p.cosine").as("cosine"))
    val w = Window.partitionBy("item")
      .orderBy(col("cosine").desc, col("n_cooc").desc, col("nbr").asc)
    mirrored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  /** Top-k unseen-item recommendations per user: each owned item votes
    * for its neighbors from the [[topNeighbors]] model, votes aggregate
    * to an INTEGER score per (user, candidate) — `score` = Σ n_cooc over
    * the owned→candidate links, `n_links` = how many owned items back
    * the candidate (both exact, so the ranking is bit-stable with no
    * float discipline) — already-owned candidates are removed by an
    * anti-join, and a per-user row_number cut keeps the top `k` on
    * (score desc, n_links desc, item asc).
    *
    * Shape: one distinct on (user, item), one item-keyed join against
    * the model (the model is k rows per item — skinny; at catalog scale
    * it shuffles, AQE may elect broadcast), one (user, candidate) hash
    * aggregate with map-side combine, one user+item-keyed anti-join, one
    * per-user WindowGroupLimit cut. Per-user state never exists outside
    * an aggregate; nothing is collected.
    *
    * Output: user, item, score, n_links, rnk (1-based).
    */
  def recommendForUsers(userItems: DataFrame, user: Column, item: Column,
                        neighbors: DataFrame, k: Int): DataFrame = scoped {
    require(k >= 1, s"recommendForUsers: k=$k must be >= 1")
    val ui = materialize(
      userItems.select(user.cast("long").as("u"),
        item.cast("long").as("i")).distinct())
    val votes = ui.join(
        neighbors.select(col("item").as("i"), col("nbr"), col("n_cooc")),
        Seq("i"))
      .groupBy(col("u"), col("nbr").as("rec"))
      .agg(sum(col("n_cooc")).as("score"), count(lit(1)).as("n_links"))
    val unseen = votes.join(
      ui.select(col("u"), col("i").as("rec")), Seq("u", "rec"), "left_anti")
    val w = Window.partitionBy("u")
      .orderBy(col("score").desc, col("n_links").desc, col("rec").asc)
    unseen.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("u").as("user"), col("rec").as("item"),
        col("score"), col("n_links"), col("rnk"))
  }

  /** Rank-1 alternating least squares — the smallest real matrix
    * factorization (Koren, Bell & Volinsky 2009's ALS family at rank 1):
    * each user and item gets ONE latent factor, alternately solved in
    * closed form against the ridge-regularized least-squares objective
    *   Σ_(u,i) (r_ui − u_f·v_i)² + λ(Σu_f² + Σv_i²):
    *
    *   u_f = Σ_{i∈R(u)} r_ui·v_i / (λ + Σ_{i∈R(u)} v_i²)
    *   v_i = Σ_{u∈R(i)} r_ui·u_f / (λ + Σ_{u∈R(i)} u_f²)
    *
    * from v⁰ ≡ 1 (so round 1's user step is a λ-shrunk mean rating —
    * deterministic, no random init to pin). Rank 1 is the honest
    * oracle-able slice of ALS: the per-key solve is a scalar division
    * instead of a k×k Cholesky, while the data movement — the part that
    * matters at 100 TB — is IDENTICAL to full ALS: per round, one join
    * of the ratings against the counterpart factor table and one
    * key-grouped aggregate, each factor table skinny (key, factor).
    *
    * Determinism: ratings are exact longs; each round's numerator and
    * denominator are folds of doubles. `deterministic = true` (the
    * oracle mode) folds both in ascending-counterpart-id order via the
    * sorted-collect discipline — per-key cost bounded by the key's
    * degree, the documented hot-user bound of the repro mode;
    * production mode uses plain partial-aggregated sums. The λ add and
    * final division are single correctly-rounded IEEE ops mirrored
    * textually by the unrolled oracle.
    *
    * Scale: 2·iters join+aggregate rounds over skinny frames; factor
    * frames are materialized per round (lineage cut) and released when
    * superseded; nothing ever reaches the driver.
    *
    * Output: one row per distinct rating pair —
    * (user, item, rating, u_factor, i_factor, pred = u_factor·i_factor).
    */
  def alsRank1(ratings: DataFrame, user: Column, item: Column,
               rating: Column, iters: Int, lambda: Double,
               deterministic: Boolean = false): DataFrame = scoped {
    require(iters >= 1 && iters <= 20, s"alsRank1: iters=$iters")
    require(lambda > 0.0, s"alsRank1: lambda=$lambda must be > 0")
    val base = materialize(ratings
      .select(user.cast("long").as("u"), item.cast("long").as("i"),
        rating.cast("long").as("r"))
      .where(col("u").isNotNull && col("i").isNotNull &&
        col("r").isNotNull)
      .groupBy("u", "i").agg(max(col("r")).as("r")))
    // one alternating half-step: solve `key`'s factors against the
    // counterpart factor frame (other, f); output is always (key, f)
    def solve(key: String, other: String, factors: DataFrame): DataFrame = {
      val j = base.join(factors, Seq(other))
      val agged =
        if (deterministic)
          // explicit-count keyed exchange before the interpreted
          // collect_list fold (the sequentialSumByKey posture, r13):
          // AQE's byte-based sizing otherwise coalesces the fold stage,
          // and exactly-cpus partitions would leave no straggler slack
          j.repartition(workParallelism(j.sparkSession), col(key))
            .groupBy(key).agg(collect_list(struct(col(other),
              (col("r").cast("double") * col("f")).as("rv"),
              (col("f") * col("f")).as("ff"))).as("xs"))
            .select(col(key),
              aggregate(array_sort(col("xs")), lit(0.0),
                (a, s) => a + s.getField("rv")).as("num"),
              aggregate(array_sort(col("xs")), lit(0.0),
                (a, s) => a + s.getField("ff")).as("den"))
        else
          j.groupBy(key).agg(
            sum(col("r").cast("double") * col("f")).as("num"),
            sum(col("f") * col("f")).as("den"))
      agged.select(col(key),
        (col("num") / (lit(lambda) + col("den"))).as("f"))
    }
    var v = materialize(base.select("i").distinct()
      .withColumn("f", lit(1.0)))
    var u: DataFrame = null
    for (_ <- 1 to iters) {
      // materialize snapshots each round eagerly, so releasing the
      // SUPERSEDED round's storage never undercuts a pending plan; the
      // final u/v/base escape the scope — the returned frame is lazy
      // and still reads them
      val nu = materialize(solve("u", "i", v))
      if (u != null) release(u)
      u = nu
      v = advance(v, solve("i", "u", u))
    }
    base.join(u.withColumnRenamed("f", "u_factor"), Seq("u"))
      .join(v.withColumnRenamed("f", "i_factor"), Seq("i"))
      .select(col("u").as("user"), col("i").as("item"),
        col("r").as("rating"), col("u_factor"), col("i_factor"),
        (col("u_factor") * col("i_factor")).as("pred"))
  }

  /** Rank-2 ALS — [[alsRank1]] upgraded to the smallest TRUE matrix
    * solve: each alternating half-step assembles the 2×2 ridge normal
    * equations per key, A = λI₂ + Σ v·vᵀ and b = Σ r·v over the key's
    * ratings, and solves u = A⁻¹b by the closed-form 2×2 inverse
    *   det = (λ+s11)(λ+s22) − s12²   (> 0: A is positive definite)
    *   u1  = ((λ+s22)·b1 − s12·b2) / det
    *   u2  = ((λ+s11)·b2 − s12·b1) / det
    * — exactly the per-key Cholesky full ALS runs at rank k, with the
    * SAME data movement (one join against the skinny counterpart
    * factor table + one key-grouped aggregate per half-step); only the
    * driver-free scalar algebra differs. Items seed at v⁰ = (1,
    * (hex2(md5(i)) mod 8 + 1)/8) — the second coordinate must vary per
    * item, or the factor columns start collinear and (by
    * Sherman–Morrison) stay rank-1 forever; the md5 draw (the engine's
    * standing randomness source) varies across EVERY id population,
    * where an `i mod k` seed would collapse on ids sharing a residue
    * class (catalogs keyed in steps of k).
    *
    * Determinism: repro mode sorts each key's ratings by counterpart
    * id once and folds all five sufficient statistics (s11, s12, s22,
    * b1, b2) over that one sorted list; the λ-adds, determinant and
    * divisions are a fixed IEEE tree the unrolled oracle mirrors
    * textually (the repeated-subexpression rule: det is SPELLED twice,
    * in f1 and f2). Production mode uses plain partial sums.
    *
    * Output: (user, item, rating, u1, u2, v1, v2,
    * pred = (u1·v1) + (u2·v2)).
    */
  def alsRank2(ratings: DataFrame, user: Column, item: Column,
               rating: Column, iters: Int, lambda: Double,
               deterministic: Boolean = false): DataFrame = scoped {
    require(iters >= 1 && iters <= 20, s"alsRank2: iters=$iters")
    require(lambda > 0.0, s"alsRank2: lambda=$lambda must be > 0")
    val base = materialize(ratings
      .select(user.cast("long").as("u"), item.cast("long").as("i"),
        rating.cast("long").as("r"))
      .where(col("u").isNotNull && col("i").isNotNull &&
        col("r").isNotNull)
      .groupBy("u", "i").agg(max(col("r")).as("r")))
    val lam = lit(lambda)
    def solve(key: String, other: String, factors: DataFrame): DataFrame = {
      val j = base.join(factors, Seq(other))
      val stats =
        if (deterministic) {
          val terms = struct(col(other),
            (col("r").cast("double") * col("f1")).as("b1"),
            (col("r").cast("double") * col("f2")).as("b2"),
            (col("f1") * col("f1")).as("s11"),
            (col("f1") * col("f2")).as("s12"),
            (col("f2") * col("f2")).as("s22"))
          def fold(fld: String) =
            aggregate(array_sort(col("xs")), lit(0.0),
              (a, s) => a + s.getField(fld)).as(fld)
          // pinned keyed exchange before the fold — see alsRank1 (r13)
          j.repartition(workParallelism(j.sparkSession), col(key))
            .groupBy(key).agg(collect_list(terms).as("xs"))
            .select(col(key), fold("b1"), fold("b2"), fold("s11"),
              fold("s12"), fold("s22"))
        } else
          j.groupBy(key).agg(
            sum(col("r").cast("double") * col("f1")).as("b1"),
            sum(col("r").cast("double") * col("f2")).as("b2"),
            sum(col("f1") * col("f1")).as("s11"),
            sum(col("f1") * col("f2")).as("s12"),
            sum(col("f2") * col("f2")).as("s22"))
      // det spelled in BOTH coordinates — the textual-mirror rule
      val det = (lam + col("s11")) * (lam + col("s22")) -
        col("s12") * col("s12")
      stats.select(col(key),
        (((lam + col("s22")) * col("b1") - col("s12") * col("b2")) / det)
          .as("f1"),
        (((lam + col("s11")) * col("b2") - col("s12") * col("b1")) / det)
          .as("f2"))
    }
    var v = materialize(base.select("i").distinct()
      .select(col("i"), lit(1.0).as("f1"),
        ((conv(substring(md5(col("i").cast("string")), 1, 2), 16, 10)
          .cast("long") % 8 + 1).cast("double") / lit(8.0)).as("f2")))
    var u: DataFrame = null
    for (_ <- 1 to iters) {
      val nu = materialize(solve("u", "i", v))
      if (u != null) release(u)
      u = nu
      v = advance(v, solve("i", "u", u))
    }
    base
      .join(u.select(col("u"), col("f1").as("u1"), col("f2").as("u2")),
        Seq("u"))
      .join(v.select(col("i"), col("f1").as("v1"), col("f2").as("v2")),
        Seq("i"))
      .select(col("u").as("user"), col("i").as("item"),
        col("r").as("rating"), col("u1"), col("u2"), col("v1"),
        col("v2"),
        (col("u1") * col("v1") + col("u2") * col("v2")).as("pred"))
  }

  /** NDCG discount table for ranks 1..k and its ascending prefix sums
    * (the ideal DCG per truth-set size): disc(r) = 1/log₂(r+1)
    * (Järvelin & Kekäläinen 2002). Computed ONCE here and embedded as
    * LITERALS into both the Spark plan and the generated oracle SQL —
    * the standing lockstep-parameter rule — so the engines agree
    * bit-for-bit no matter how either's log is rounded. The prefix fold
    * is the ascending sequential sum the DCG fold below also uses. */
  private[graft] def ndcgTables(k: Int): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val d = (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
    (d, d.scanLeft(0.0)(_ + _).tail)
  }

  /** Offline ranking-quality evaluation: a ranked recommendation (or
    * retrieval) list scored against a held-out truth set — hits@k,
    * precision@k, recall@k, reciprocal rank and NDCG@k per user, the
    * readout every recommender/ANN iteration loop gates on.
    *
    * Universe: one output row per user WITH at least one truth item
    * (the standard offline protocol — a user the model never saw still
    * counts, scoring 0 on every metric); rec rows with rank > k are
    * ignored. Binary relevance (a rec item is a hit iff it is in the
    * user's truth set). The rec list is assumed (user, item)-unique
    * with distinct ranks per user — what [[recommendForUsers]] (or any
    * row_number cut) produces; a caller feeding duplicate rec rows
    * would double-count their hits.
    *
    * Exactness: hits/counts/first-hit-rank are exact integers; rr,
    * precision, recall are single IEEE divisions of exact integers;
    * DCG folds the literal discount table in ascending-rank order
    * (ranks are distinct per user, so the sort order is total) and
    * IDCG indexes the prefix-sum literal table at min(k, n_truth) —
    * both folds replayed textually by the oracle, so raw doubles sit
    * under the hash.
    *
    * Scale: one distinct + count on truth, one (u,i)-keyed left join
    * from recs to truth, one per-user hash aggregate (collect_list is
    * bounded by k — the rank filter precedes it), one truth-keyed left
    * join back. No window, no driver state beyond the 2k literals.
    *
    * Output: (user, n_truth, n_recs, hits, first_hit, rr, precision_k,
    * recall_k, dcg, idcg, ndcg).
    */
  def evalRanking(recs: DataFrame, user: Column, item: Column,
                  rank: Column, truth: DataFrame, tUser: Column,
                  tItem: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"evalRanking: k=$k must be in [1,1000]")
    val (disc, idcg) = ndcgTables(k)
    val discArr = array(disc.map(lit): _*)
    val idcgArr = array(idcg.map(lit): _*)
    val r = recs.select(user.cast("long").as("u"),
        item.cast("long").as("i"), rank.cast("int").as("rnk"))
      .where(col("u").isNotNull && col("i").isNotNull &&
        col("rnk").isNotNull && col("rnk") >= 1 && col("rnk") <= k)
    val t = truth.select(tUser.cast("long").as("u"),
        tItem.cast("long").as("i"))
      .where(col("u").isNotNull && col("i").isNotNull).distinct()
    val tcnt = t.groupBy("u").agg(count(lit(1)).as("n_truth"))
    val marked = r.join(t.withColumn("hit", lit(1)), Seq("u", "i"), "left")
    val per = marked.groupBy("u").agg(
      count(lit(1)).as("n_recs"),
      sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("hits"),
      min(when(col("hit").isNotNull, col("rnk"))).as("first_hit"),
      // hit ranks are distinct ints -> array_sort is a total order and
      // the fold adds discounts in ascending-rank order
      aggregate(array_sort(collect_list(
          when(col("hit").isNotNull, col("rnk")))), lit(0.0),
        (acc, rk) => acc + element_at(discArr, rk)).as("dcg"))
    tcnt.join(per, Seq("u"), "left")
      .select(col("u").as("user"), col("n_truth"),
        coalesce(col("n_recs"), lit(0L)).as("n_recs"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("first_hit"),
        coalesce(lit(1.0) / col("first_hit").cast("double"), lit(0.0))
          .as("rr"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("precision_k"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall_k"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        element_at(idcgArr, least(lit(k), col("n_truth")).cast("int"))
          .as("idcg"),
        (coalesce(col("dcg"), lit(0.0)) /
          element_at(idcgArr, least(lit(k), col("n_truth")).cast("int")))
          .as("ndcg"))
  }
}
