package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.operators.Graph

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int,
                    det: Boolean): Map[Long, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), col("src"), col("dst"),
        iters = iters, deterministic = det)
      .select("id", "rank").as[(Long, Double)].collect().toMap

  test("pageRank: hand-computed 2-node graph with a dangling sink") {
    // a(1)->b(2); N=2, r0 = 0.5 each; b dangling
    // iter: dm = 0.5; contrib(b) = 0.5/1
    //   r1(a) = 0.15/2 + 0.85*(0 + 0.25)   = 0.2875
    //   r1(b) = 0.15/2 + 0.85*(0.5 + 0.25) = 0.7125
    val r = ranks(Seq((1L, 2L)), iters = 1, det = true)
    assert(math.abs(r(1L) - 0.2875) < 1e-12)
    assert(math.abs(r(2L) - 0.7125) < 1e-12)
    // total mass is conserved exactly-ish every round
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: a cycle stays uniform, multi-edges collapse, and mass " +
    "is conserved over deep iteration") {
    // 3-cycle, with one edge duplicated (must collapse to simple)
    val r = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 2L)),
      iters = 5, det = false)
    assert(r.size === 3)
    assert(r.values.toSet.size === 1, s"cycle must stay uniform: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: hub concentrates rank; deterministic and production " +
    "modes agree to fp-merge tolerance") {
    // star: 1..5 -> 9 (hub); sources dangle nothing, hub dangles
    val edges = (1L to 5L).map(i => (i, 9L))
    val det = ranks(edges, iters = 3, det = true)
    val prod = ranks(edges, iters = 3, det = false)
    assert(det(9L) > det(1L) * 3, s"hub must dominate: $det")
    det.foreach { case (id, v) =>
      assert(math.abs(v - prod(id)) < 1e-12,
        s"det/prod divergence at $id: $v vs ${prod(id)}")
    }
  }

  test("coCitation: hand-counted pairs, hub cap drops loudly, coupling " +
    "is the reversed call") {
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), // s1 -> a b c
      (2L, 10L), (2L, 11L),                      // s2 -> a b
      (3L, 10L), (3L, 10L)                       // s3 -> a (dup edge)
    ).toDF("src", "dst")
    def run(cap: Long) =
      Graph.coCitation(e, col("src"), col("dst"), maxSrcOutDegree = cap)
        .select("d1", "d2", "n_common", "n_dropped_sources")
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(run(10000L) === Set((10L, 11L, 2L, 0L), (10L, 12L, 1L, 0L),
      (11L, 12L, 1L, 0L)))
    // cap 2 excludes s1 (outdeg 3): only the s2 pair survives, and the
    // drop is accounted on the row
    assert(run(2L) === Set((10L, 11L, 1L, 1L)))
    // bibliographic coupling = the reversed-edge call: sources sharing
    // a target
    val coup = Graph.coCitation(e, col("dst"), col("src"))
      .select("d1", "d2", "n_common").as[(Long, Long, Long)]
      .collect().toSet
    // targets: 10 cited by {1,2,3}, 11 by {1,2}, 12 by {1}
    assert(coup === Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("triangleCounts: K4, triangle-free star, self-loops/dups/both-" +
    "directions collapse, clustering coefficient exact") {
    // K4 on 1..4: every node deg 3, 3 triangles each, clustering 1.0
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
    def run(edges: Seq[(Long, Long)]) =
      Graph.triangleCounts(edges.toDF("s", "d"), col("s"), col("d"))
        .select("node", "degree", "n_tri", "clustering")
        .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(run(k4) ===
      (1L to 4L).map(v => (v, 3L, 3L, Some(1.0))).toSet)
    // noise must not change counts: dups, reversed copies, self-loops
    assert(run(k4 ++ k4.map(_.swap) ++ Seq((1L, 1L), (2L, 2L))) ===
      (1L to 4L).map(v => (v, 3L, 3L, Some(1.0))).toSet)
    // star (hub 9, leaves 1..5): zero triangles everywhere; hub
    // clustering 0, leaves (deg 1) null
    assert(run((1L to 5L).map(l => (9L, l))) ===
      ((1L to 5L).map(l => (l, 1L, 0L, None)).toSet +
        ((9L, 5L, 0L, Some(0.0)))))
    // one closed + one open wedge: 1-2-3 closed, 3-4 dangling
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(run(g) === Set((1L, 2L, 1L, Some(1.0)), (2L, 2L, 1L, Some(1.0)),
      (3L, 3L, 1L, Some(1.0 / 3.0)), (4L, 1L, 0L, None)))
  }

  test("labelPropagation: hand-traced synchronous rounds on two " +
    "triangles with a bridge — deterministic tie-breaks, noise-immune") {
    // triangles 1-2-3 and 4-5-6, bridge 3-4; plus noise: dup edge,
    // reversed copy, self-loop — all must collapse
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L), (2L, 1L), (1L, 2L), (5L, 5L))
    def run(iters: Int) =
      Graph.labelPropagation(g.toDF("s", "d"), col("s"), col("d"),
        iters = iters).as[(Long, Long)].collect().toMap
    // round 1 (labels = self): each node takes its min neighbor
    assert(run(1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 4L, 6L -> 4L))
    // round 2 from there: v1 sees {1,1}→1; v2 sees {2,1} tie→1; v3 sees
    // {2,1,3}→1; v4 sees {1,4,4}→4; v5 sees {3,4} tie→3; v6 likewise
    assert(run(2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 3L, 6L -> 3L))
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(g.toDF("s", "d"), col("s"), col("d"),
        iters = 0)
    }
  }

  test("kCore: peeling cascades across rounds — a tendril vertex drop " +
    "exposes the next; fixed rounds are the contract (round 1 alone " +
    "leaves the un-converged middle); converged degrees are all >= k") {
    // triangle core {a,b,c} with a 2-hop tendril a-d-e: at k=2, round 1
    // drops e (deg 1), which DROPS d to deg 1, removed only in round 2
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
      ("d", "e")).toDF("s", "d")
    val r1 = Graph.kCore(edges, col("s"), col("d"), k = 2, rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 3L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
    val r2 = Graph.kCore(edges, col("s"), col("d"), k = 2, rounds = 2)
      .as[(String, Long)].collect().toMap
    assert(r2 === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // converged: a further round changes nothing, every degree >= k
    val r3 = Graph.kCore(edges, col("s"), col("d"), k = 2, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(r3 === r2 && r3.values.forall(_ >= 2L))
    // k above the max core empties the graph (0 rows, never an error);
    // self-loops are ignored
    val r4 = Graph.kCore(edges.unionByName(Seq(("a", "a")).toDF("s", "d")),
      col("s"), col("d"), k = 3, rounds = 3)
    assert(r4.count() === 0L)
    intercept[IllegalArgumentException] {
      Graph.kCore(edges, col("s"), col("d"), k = 0, rounds = 1)
    }
  }

  test("bfs: nearest-source hop distances — multi-source min wins, " +
    "directed edges are not walked backwards, undirected symmetrizes, " +
    "vertices beyond the round cap are absent") {
    // path 1→2→3→4→5 plus a side source 10→4: distances from {1, 10}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 4L))
      .toDF("s", "d")
    val sources = Seq(1L, 10L).toDF("v")
    val r3 = Graph.bfs(edges, col("s"), col("d"), sources, rounds = 3)
      .as[(Long, Int)].collect().toMap
    // 4 is reached at dist 1 via 10 (NOT dist 3 via the chain); 5 at 2
    assert(r3 === Map(1L -> 0, 10L -> 0, 2L -> 1, 3L -> 2, 4L -> 1,
      5L -> 2))
    // rounds=1 stops at the first frontier
    val r1 = Graph.bfs(edges, col("s"), col("d"), sources, rounds = 1)
      .as[(Long, Int)].collect().toMap
    assert(r1 === Map(1L -> 0, 10L -> 0, 2L -> 1, 4L -> 1))
    // directed: nothing reaches 1 or 10 from source 5
    val back = Graph.bfs(edges, col("s"), col("d"), Seq(5L).toDF("v"),
      rounds = 4).as[(Long, Int)].collect().toMap
    assert(back === Map(5L -> 0))
    // undirected: the same source walks the chain backwards
    val undir = Graph.bfs(edges, col("s"), col("d"), Seq(5L).toDF("v"),
      rounds = 2, directed = false).as[(Long, Int)].collect().toMap
    assert(undir === Map(5L -> 0, 4L -> 1, 3L -> 2, 10L -> 2))
    intercept[IllegalArgumentException] {
      Graph.bfs(edges, col("s"), col("d"), sources, rounds = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.bfs(edges, col("s"), col("d"),
        Seq((1L, 2L)).toDF("a", "b"), rounds = 1)
    }
  }

  test("pageRank: guards — empty graph and bad params refuse loudly") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, col("src"), col("dst"))
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), col("src"),
        col("dst"), iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), col("src"),
        col("dst"), damping = 1.0)
    }
  }

  test("personalizedPageRank: hand-traced two-round chain, mass " +
    "conserved onto the source set, absent sources refused") {
    // 1→2, sources {1}: r0 = (1, 0); round 1 → (0.15, 0.85);
    // round 2: node 2's mass is dangling and re-lands on the source
    val e = Seq((1L, 2L)).toDF("s", "d")
    val got = Graph.personalizedPageRank(e, col("s"), col("d"),
        Seq(1L).toDF("id"), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val r1n1 = (1.0 - 0.85) * 1.0 + 0.85 * (0.0 + 0.0 * 1.0)
    val r1n2 = (1.0 - 0.85) * 0.0 + 0.85 * (1.0 / 1L + 0.0 * 0.0)
    val r2n1 = (1.0 - 0.85) * 1.0 + 0.85 * (0.0 + r1n2 * 1.0)
    val r2n2 = (1.0 - 0.85) * 0.0 + 0.85 * (r1n1 / 1L + r1n2 * 0.0)
    assert(got === Map(1L -> r2n1, 2L -> r2n2))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // deterministic mode agrees on this tiny graph
    val det = Graph.personalizedPageRank(e, col("s"), col("d"),
        Seq(1L).toDF("id"), iters = 2, deterministic = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(det === got)
    // a source that never appears in the graph is refused
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, col("s"), col("d"),
        Seq(99L).toDF("id"))
    }
  }

  test("hits: hand-traced integer alternating-path counts, shares sum " +
    "to 1, duplicate edges collapse, partition-layout-free") {
    // 1→10, 2→10, 3→10, 1→20 (plus a duplicate of 1→10):
    // a1 = indeg = {10:3, 20:1}; h1 = {1:4, 2:3, 3:3};
    // a2 = {10:10, 20:4};       h2 = {1:14, 2:10, 3:10}
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (1L, 10L))
      .toDF("s", "d")
    for (parts <- Seq(1, 7)) {
      val got = Graph.hits(e.repartition(parts), col("s"), col("d"),
          iters = 2)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      assert(got.view.mapValues(v => (v._1, v._2)).toMap === Map(
        1L -> ((14L, 0L)), 2L -> ((10L, 0L)), 3L -> ((10L, 0L)),
        10L -> ((0L, 10L)), 20L -> ((0L, 4L))))
      assert(got(1L)._3 === 14.0 / 34.0)
      assert(got(10L)._4 === 10.0 / 14.0)
      assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-12)
      assert(math.abs(got.values.map(_._4).sum - 1.0) < 1e-12)
    }
  }

  test("hits: guards — empty edges and bad iters refuse loudly") {
    intercept[IllegalArgumentException] {
      Graph.hits(Seq.empty[(Long, Long)].toDF("s", "d"), col("s"),
        col("d"))
    }
    intercept[IllegalArgumentException] {
      Graph.hits(Seq((1L, 2L)).toDF("s", "d"), col("s"), col("d"),
        iters = 0)
    }
  }

  test("linkPrediction: hand-computed wedge candidates — existing edges " +
    "anti-joined out, exact CN + Jaccard, reversed/self edges collapse") {
    // 1-2, 1-3, 2-3, 2-4, 1-5 (+ reversed dup of 1-2, + self-loop 3-3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (1L, 5L),
        (2L, 1L), (3L, 3L))
      .toDF("s", "d")
    val got = Graph.linkPrediction(edges, col("s"), col("d"))
      .select("a", "b", "n_common", "deg_a", "deg_b", "jaccard",
        "adamic_adar", "resource_alloc", "n_dropped_centers")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double, Long)]
      .collect().toSet
    // degrees: 1:3, 2:3, 3:2, 4:1, 5:1. Non-edge candidates:
    //   (1,4) via 2: 1/(3+1-1); (2,5) via 1: 1/(3+1-1)
    //   (3,4) via 2: 1/(2+1-1); (3,5) via 1: 1/(2+1-1)
    // every candidate has exactly one wedge center of degree 3, so
    // AA = 1/ln 3 and RA = 1/3 everywhere. (4,5) shares no neighbor
    // and must be absent.
    // Spark's Log expression evaluates via StrictMath (math.log may
    // intrinsify to a different last ULP on this JVM)
    val aa = 1.0 / StrictMath.log(3.0)
    val exp = Set(
      (1L, 4L, 1L, 3L, 1L, 1.0 / 3.0, aa, 1.0 / 3.0, 0L),
      (2L, 5L, 1L, 3L, 1L, 1.0 / 3.0, aa, 1.0 / 3.0, 0L),
      (3L, 4L, 1L, 2L, 1L, 0.5, aa, 1.0 / 3.0, 0L),
      (3L, 5L, 1L, 2L, 1L, 0.5, aa, 1.0 / 3.0, 0L))
    assert(got === exp)
  }

  test("linkPrediction: the center-degree cap excludes hub wedges — " +
    "capping both hubs leaves only the (1,2) edge wedge, anti-joined out") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (1L, 5L))
      .toDF("s", "d")
    val got = Graph.linkPrediction(edges, col("s"), col("d"),
      maxCenterDegree = 2L)
    assert(got.count() === 0L)
  }

  test("randomWalks: every step matches an independent driver-side " +
    "replay of the md5 draw; walkers never strand; reversed dups collapse") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L))
      .toDF("s", "d")
    val walkLen = 4
    val walksPerNode = 2
    val seed = "t"
    val got = Graph.randomWalks(edges, col("s"), col("d"),
        walkLen = walkLen, walksPerNode = walksPerNode, seed = seed)
      .as[(Long, Int, Int, Long)].collect().toSet
    // independent reference: same ranked adjacency, same draw formula
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L, 4L), 4L -> Seq(3L))
    def draw(start: Long, walk: Int, step: Int, deg: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$seed:$start:$walk:$step".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h.substring(0, 12), 16) % deg).toInt
    }
    val exp = (for {
      start <- adj.keys.toSeq
      walk <- 0 until walksPerNode
    } yield {
      var cur = start
      (start, walk, 0, cur) +: (1 to walkLen).map { t =>
        cur = adj(cur)(draw(start, walk, t, adj(cur).size))
        (start, walk, t, cur)
      }
    }).flatten.toSet
    assert(got === exp)
    assert(got.size === adj.size * walksPerNode * (walkLen + 1))
  }

  test("walkSkipGramPairs: window-2 pairs over a hand walk — " +
    "orientation, revisit self-pair, exact counts") {
    // one walk 1→2→3→2: window-2 pairs (1,2),(1,3),(2,3),(2,2),(2,3)
    val walks = Seq((1L, 0, 0, 1L), (1L, 0, 1, 2L), (1L, 0, 2, 3L),
        (1L, 0, 3, 2L))
      .toDF("start", "walk", "step", "node")
    val got = Graph.walkSkipGramPairs(walks, window = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
      (2L, 2L, 1L)))
  }

  test("randomWalksWeighted: w ≡ 1 emits the IDENTICAL corpus to " +
    "randomWalks — intervals degenerate to ranks, same draw chain") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("s", "d")
    val unweighted = Graph.randomWalks(edges, col("s"), col("d"),
        walkLen = 4, walksPerNode = 2, seed = "t")
      .as[(Long, Int, Int, Long)].collect().toSet
    val weighted = Graph.randomWalksWeighted(edges.withColumn("w",
        lit(1L)), col("s"), col("d"), col("w"),
        walkLen = 4, walksPerNode = 2, seed = "t")
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(weighted === unweighted)
  }

  test("randomWalksWeighted: weighted draw matches an independent " +
    "replay — cumulative intervals in neighbor order, duplicate edges " +
    "sum their weights") {
    // 1-2 w=1, 1-3 w=2+1 (duplicate edge rows sum): node 1 total 4,
    // intervals 2→[0,0], 3→[1,3]; nodes 2,3 bounce back to 1
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 2L), (3L, 1L, 1L))
      .toDF("s", "d", "w")
    val got = Graph.randomWalksWeighted(edges, col("s"), col("d"),
        col("w"), walkLen = 3, walksPerNode = 1, seed = "t")
      .as[(Long, Int, Int, Long)].collect().toSet
    def draw(start: Long, walk: Int, step: Int, total: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"t:$start:$walk:$step".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 12), 16) % total
    }
    // adjacency: 1 → [(2, [0,0]), (3, [1,3])] total 4; 2 → [(1, [0,0])]
    // total 1; 3 → [(1, [0,2])] total 3
    def stepFrom(cur: Long, start: Long, walk: Int, t: Int): Long =
      cur match {
        case 1L => if (draw(start, walk, t, 4L) == 0L) 2L else 3L
        case 2L => 1L
        case 3L => 1L
      }
    val exp = (for (start <- Seq(1L, 2L, 3L)) yield {
      var cur = start
      (start, 0, 0, cur) +: (1 to 3).map { t =>
        cur = stepFrom(cur, start, 0, t)
        (start, 0, t, cur)
      }
    }).flatten.toSet
    assert(got === exp)
  }

  test("negativeSamples: draws match an independent replay of the " +
    "integer noise table — weights floor(freq^0.75), md5 interval pick") {
    // freq: node 1 ×3, node 2 ×1 → w(1)=⌊3^0.75⌋=2, w(2)=1, total 3;
    // intervals: 1 → [0,2), 2 → [2,3)
    val walks = Seq((1L, 0, 0, 1L), (1L, 0, 1, 1L), (1L, 0, 2, 1L),
        (1L, 0, 3, 2L))
      .toDF("start", "walk", "step", "node")
    val got = Graph.negativeSamples(walks, negatives = 2, seed = "t")
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    def draw(start: Long, walk: Int, step: Int, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"t:$start:$walk:$step:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 12), 16) % 3
    }
    val exp = (for {
      (start, walk, step) <- Seq((1L, 0, 0), (1L, 0, 1), (1L, 0, 2),
        (1L, 0, 3))
      j <- 0 until 2
    } yield {
      val u = draw(start, walk, step, j)
      (start, walk, step, j, if (u < 2) 1L else 2L)
    }).toSet
    assert(got === exp)
    assert(got.size === 8)
  }

  test("negativeSamples: the noise-table build is the bucketed " +
    "two-phase prefix sum — no single-partition exchange anywhere in " +
    "the plan, and the intervals survive a hostile id range") {
    val walks = Seq((1L, 0, 0, 1L), (1L, 0, 1, 1L), (1L, 0, 2, 1L),
        (1L, 0, 3, 2L))
      .toDF("start", "walk", "step", "node")
    // the noise-table build BEFORE materialization (the output plan
    // would only show the checkpoint scan)
    val (cumPlan, total, vocabN) = Graph.noiseTable(walks, 100000L)
    assert((total, vocabN) === (3L, 2L))
    val plan = cumPlan.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange:\n$plan")
    // placement: 300 nodes spread over the id buckets give the global
    // running-sum window's intervals under 1 and 7 shuffle partitions
    import org.apache.spark.sql.expressions.Window
    val many = (1L to 300L)
      .flatMap(i => (0 to (i % 5).toInt).map(s => (1L, 0, s, i * i * 1009L)))
      .toDF("start", "walk", "step", "node")
    val f = col("freq").cast("double")
    val want = many.groupBy("node").agg(count(lit(1)).as("freq"))
      .withColumn("w", greatest(lit(1L), floor(sqrt(sqrt(f * f * f)))))
      .withColumn("hi", sum("w").over(Window.orderBy("node")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("node"), (col("hi") - col("w")).as("lo"),
        (col("hi") - 1).as("hi_incl"))
      .as[(Long, Long, Long)].collect().toSet
    for (p <- Seq(1, 7)) withShufflePartitions(p) {
      val (manyCum, _, manyN) = Graph.noiseTable(many, 100000L)
      assert(manyN === 300L)
      assert(manyCum.as[(Long, Long, Long)].collect().toSet === want,
        s"partitions=$p")
    }
    // ids spread over a 2^40 span: the shift-bucketing must stay
    // monotone and the cumulative intervals exact — same replay as the
    // dense-id spec (w(hi)=2 from freq 3, w(lo)=1, total 3)
    val hi = 1L << 40
    val wide = Seq((hi, 0, 0, hi), (hi, 0, 1, hi), (hi, 0, 2, hi),
        (hi, 0, 3, 7L))
      .toDF("start", "walk", "step", "node")
    val got = Graph.negativeSamples(wide, negatives = 1, seed = "t")
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    def draw(start: Long, walk: Int, step: Int, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"t:$start:$walk:$step:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 12), 16) % 3
    }
    // ascending node order: 7 (w=1, [0,1)) then 2^40 (w=2, [1,3))
    val exp = Seq((hi, 0, 0), (hi, 0, 1), (hi, 0, 2), (hi, 0, 3)).map {
      case (s, w, t) =>
        val u = draw(s, w, t, 0)
        (s, w, t, 0, if (u < 1) 7L else hi)
    }.toSet
    assert(got === exp)
  }

  test("negativeSamples: empty walk corpus fails with the cause, not " +
    "an opaque NPE") {
    val empty = Seq.empty[(Long, Int, Int, Long)]
      .toDF("start", "walk", "step", "node")
    val e = intercept[IllegalArgumentException] {
      Graph.negativeSamples(empty, negatives = 1)
    }
    assert(e.getMessage.contains("empty walk corpus"))
  }

  test("negativeSamples: a PARTIALLY-null node column fails with a " +
    "descriptive message, not an opaque NPE in the offsets build") {
    val mixed = Seq((1L, 0, 0, java.lang.Long.valueOf(10L)),
        (1L, 0, 1, null.asInstanceOf[java.lang.Long]),
        (2L, 0, 0, java.lang.Long.valueOf(12L)))
      .toDF("start", "walk", "step", "node")
    val e = intercept[Exception] {
      Graph.negativeSamples(mixed, negatives = 1).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") +
        msgs(t.getCause)
    assert(msgs(e).contains("null node ids"))
  }

  test("randomWalksWeighted: an edge list that filters to nothing " +
    "(all self-loops / non-positive weights) fails loudly") {
    val edges = Seq((1L, 1L, 5L), (2L, 2L, 3L), (3L, 4L, 0L))
      .toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      Graph.randomWalksWeighted(edges, col("src"), col("dst"),
        col("w"), walkLen = 2)
    }
    assert(e.getMessage.contains("no usable edges"))
  }

  test("pageRank and personalizedPageRank: each extra round costs at " +
    "most 2 Spark jobs (one message exchange, one checkpoint)") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val sources = Seq(1L).toDF("id")
    def pr(iters: Int): Unit = Exec.scoped(Graph.pageRank(e, col("src"),
      col("dst"), iters = iters, deterministic = true).collect())
    def ppr(iters: Int): Unit = Exec.scoped(Graph.personalizedPageRank(e,
      col("src"), col("dst"), sources, iters = iters,
      deterministic = true).collect())
    for ((name, walk) <- Seq("pageRank" -> (pr _), "ppr" -> (ppr _))) {
      walk(1); walk(4) // compile outside the count
      val (one, four) = (jobsOf(walk(1)), jobsOf(walk(4)))
      assert(four - one <= 6, s"$name: $one jobs at 1 round, $four at 4")
    }
  }

  test("pageRank and personalizedPageRank on a messy random graph: " +
    "repro mode is placement-independent, matches a driver-side power " +
    "iteration, and production mode agrees with it") {
    // 240 draws over 60 nodes, 40..59 only ever a dst (dangling):
    // duplicates, self-loops, null endpoints; source 40 dangles and
    // source 999 is absent from the graph
    val r = new Random(1501)
    val drawn = Seq.fill(240)((r.nextInt(40).toLong, r.nextInt(60).toLong))
    val raw: Seq[(java.lang.Long, java.lang.Long)] = drawn.map {
      case (s, d) => (java.lang.Long.valueOf(s), java.lang.Long.valueOf(d))
    } ++ Seq((null, java.lang.Long.valueOf(3L)),
      (java.lang.Long.valueOf(4L), null))
    val edges = raw.toDF("src", "dst")
    val srcIds = Seq(2L, 17L, 17L, 40L, 999L)
    val iters = 4
    // power iteration over the simple edges with the operators' rules
    def truth(teleport: Option[Set[Long]]): Map[Long, Double] = {
      val simple = drawn.distinct
      val nodes = simple.flatMap(e => Seq(e._1, e._2)).distinct
      val out = simple.groupBy(_._1).view.mapValues(_.size).toMap
      val t = teleport.map(_.intersect(nodes.toSet)).getOrElse(nodes.toSet)
      val tele = nodes.map(v => v -> (if (t(v)) 1.0 / t.size else 0.0)).toMap
      (1 to iters).foldLeft(tele) { (rank, _) =>
        val dm = nodes.filterNot(out.contains).map(rank).sum
        val ct = simple.groupBy(_._2).view.mapValues(_.map(e =>
          rank(e._1) / out(e._1)).sum).toMap
        nodes.map(v => v -> ((1 - 0.85) * tele(v) +
          0.85 * (ct.getOrElse(v, 0.0) + dm * tele(v)))).toMap
      }
    }
    def ranks(df: DataFrame): Map[Long, Double] = Exec.scoped(
      df.select("id", "rank").as[(Long, Double)].collect().toMap)
    def pr(det: Boolean) = ranks(Graph.pageRank(edges, col("src"),
      col("dst"), iters = iters, deterministic = det))
    def ppr(det: Boolean) = ranks(Graph.personalizedPageRank(edges,
      col("src"), col("dst"), srcIds.toDF("id"), iters = iters,
      deterministic = det))
    for ((name, walk, want) <- Seq(("pageRank", pr _, truth(None)),
        ("ppr", ppr _, truth(Some(srcIds.toSet))))) {
      val one = withShufflePartitions(1)(walk(true))
      val seven = withShufflePartitions(7)(walk(true))
      assert(one.keySet === want.keySet, name)
      one.foreach { case (id, v) =>
        assert(java.lang.Double.doubleToRawLongBits(v) ===
          java.lang.Double.doubleToRawLongBits(seven(id)),
          s"$name: $id at 1 vs 7 partitions: $v vs ${seven(id)}")
        assert(math.abs(v - want(id)) <= 1e-12, s"$name: $id vs truth")
      }
      val prod = withShufflePartitions(7)(walk(false))
      one.foreach { case (id, v) =>
        assert(math.abs(v - prod(id)) <= 1e-12, s"$name: $id prod vs repro")
      }
    }
  }
}
