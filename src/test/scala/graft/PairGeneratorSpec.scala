package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, LessThan}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => SchkTest}

import graft.exec.Exec
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Graph, Kmv, Recommend, Similarity}

/** The "members sharing a key" operators all pair through the one
  * generator in `Exec` (`keyGroups`/`cappedKeyGroups`/`keyPairs`).
  * Property: on random frames with null keys and members, duplicate rows
  * and a key above the size cap, each operator equals the formula it had
  * before the generator (kept here as the oracle) at 1 and 7 shuffle
  * partitions. Plan: every such self-join reads one explicit-count hash
  * exchange on its key. */
class PairGeneratorSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // -- oracles: each operator's formula before the shared generator -------

  private def coCitationOracle(edges: DataFrame, cap: Long): DataFrame = {
    val e = edges.select(col("k").cast("long").as("src"),
      col("m").cast("long").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val kept = e.join(deg.where(col("outdeg") <= cap), "src")
      .select("src", "dst")
    val dropped = deg.where(col("outdeg") > cap)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_dropped_sources"))
    kept.as("a").join(kept.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("d1"), col("b.dst").as("d2"))
      .agg(count(lit(1)).as("n_common"))
      .crossJoin(broadcast(dropped))
  }

  private def itemSimilarityOracle(m0: DataFrame, cap: Long): DataFrame = {
    val m = m0.select(col("k").cast("long").as("b"),
      col("m").cast("long").as("i")).distinct()
    val kept = m.withColumn("__sz", count(lit(1)).over(
        Window.partitionBy("b")))
      .where(col("__sz") <= cap).select("b", "i")
    val dropped = m.groupBy("b").agg(count(lit(1)).as("sz"))
      .where(col("sz") > cap)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_dropped_baskets"))
    val marg = kept.groupBy("i").agg(count(lit(1)).as("n_i"))
    kept.as("a").join(kept.as("c"),
        col("a.b") === col("c.b") && col("a.i") < col("c.i"))
      .groupBy(col("a.i").as("i1"), col("c.i").as("i2"))
      .agg(count(lit(1)).as("n_cooc"))
      .join(marg.select(col("i").as("i1"), col("n_i").as("n_i1")), Seq("i1"))
      .join(marg.select(col("i").as("i2"), col("n_i").as("n_i2")), Seq("i2"))
      .withColumn("cosine", col("n_cooc").cast("double") /
        sqrt((col("n_i1") * col("n_i2")).cast("double")))
      .select("i1", "i2", "n_cooc", "n_i1", "n_i2", "cosine")
      .crossJoin(broadcast(dropped))
  }

  private def linkPredictionOracle(edges: DataFrame, cap: Long)
      : DataFrame = {
    val e = edges.select(col("k").cast("long").as("x"),
        col("m").cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val sym = e.select(col("a").as("w"), col("b").as("n"))
      .union(e.select(col("b").as("w"), col("a").as("n")))
    val deg = sym.groupBy("w").agg(count(lit(1)).as("deg"))
    val dropped = deg.where(col("deg") > cap)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_dropped_centers"))
    val wedgeAdj = sym.join(deg.where(col("deg") <= cap), Seq("w"))
    wedgeAdj.as("l").join(wedgeAdj.as("r"),
        col("l.w") === col("r.w") && col("l.n") < col("r.n"))
      .groupBy(col("l.n").as("a"), col("r.n").as("b"))
      .agg(count(lit(1)).as("n_common"),
        sort_array(collect_list(col("l.deg"))).as("cdegs"))
      .join(e, Seq("a", "b"), "left_anti")
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
      .crossJoin(broadcast(dropped))
  }

  /** The inverted-index plan at w = 1: a document's shingles are its
    * distinct words. */
  private def invertedIndexOracle(docs: DataFrame, maxDf: Int,
                                  score: (Column, Column, Column) => Column,
                                  name: String, threshold: Double)
      : DataFrame = {
    val inv0 = docs.select(col("id"), explode(split(
        Dedup.normalizeText(col("text")), " ")).as("shingle"))
      .distinct()
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("id")))
    val dfc = inv0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val inv = inv0.join(dfc.select("shingle"), Seq("shingle"))
    inv.as("a").join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(name, score(col("inter"), col("na"), col("nb")))
      .where(col(name) >= threshold)
      .select(col("id_a"), col("id_b"), col(name))
  }

  private def tfidfCosineOracle(docs: DataFrame, k: Int, maxDf: Long)
      : DataFrame = {
    val tf = docs.select(col("id").as("doc_id"),
        explode(split(TextAnalysis.normText(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val w = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .where(col("df") <= maxDf)
      .withColumn("w", col("tf").cast("double") / col("df"))
      .select("doc_id", "tok", "w")
    val norms = Exec.sequentialSumByKey(
        w.select(col("doc_id"), col("tok"), (col("w") * col("w")).as("w2")),
        Seq("doc_id"), "tok", "w2")
      .select(col("doc_id"), sqrt(col("__sum")).as("nrm"))
    val dots = Exec.sequentialSumByKey(
        w.as("tx").join(w.as("ty"), col("tx.tok") === col("ty.tok")
            && col("tx.doc_id") < col("ty.doc_id"))
          .select(col("tx.doc_id").as("a"), col("ty.doc_id").as("b"),
            col("tx.tok").as("tok"), (col("tx.w") * col("ty.w")).as("p")),
        Seq("a", "b"), "tok", "p")
      .select(col("a"), col("b"), col("__sum").as("dot"))
    val cos = dots
      .join(norms.select(col("doc_id").as("a"), col("nrm").as("na")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nrm").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("dot") / (col("na") * col("nb"))).as("cos"))
    val sym = cos.select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("cos"))
      .union(cos.select(col("b").as("doc_a"), col("a").as("doc_b"),
        col("cos")))
    sym.withColumn("rank", row_number().over(Window.partitionBy("doc_a")
        .orderBy(col("cos").desc, col("doc_b").asc)))
      .where(col("rank") <= k)
  }

  // -- random inputs --------------------------------------------------------

  /** (k, m) rows over a few keys and members, nulls and duplicates
    * included, plus one key with more than `cap` distinct members. */
  private def pairRows(cap: Int): Gen[Seq[(Option[Long], Option[Long])]] = {
    val v = (n: Long) => Gen.frequency(
      1 -> Gen.const(Option.empty[Long]), 8 -> Gen.choose(0L, n).map(Some(_)))
    for {
      rows <- Gen.listOfN(24, Gen.zip(v(6L), v(9L)))
      dups <- Gen.someOf(rows)
      extra <- Gen.choose(1, 3)
    } yield rows ++ dups ++
      (0 until cap + extra).map(j => (Some(7L), Some(20L + j)))
  }

  /** (id, text) documents over a small vocabulary, null ids and duplicate
    * rows included, plus one word in more than `cap` documents. */
  private def docRows(cap: Int): Gen[Seq[(Option[Long], String)]] = {
    val text = Gen.listOfN(4, Gen.oneOf("alpha", "beta", "gamma", "delta",
      "eps", "zeta")).map(_.mkString(" "))
    val id = Gen.frequency(1 -> Gen.const(Option.empty[Long]),
      8 -> Gen.choose(0L, 12L).map(Some(_)))
    for {
      docs <- Gen.listOfN(10, Gen.zip(id, text))
      dups <- Gen.someOf(docs)
    } yield docs ++ dups ++
      (0 until cap + 1).map(j => (Some(30L + j), s"hub word$j"))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Each (operator, oracle) pair agrees at 1 and 7 shuffle partitions. */
  private def agrees(cases: Seq[(String, () => DataFrame, () => DataFrame)])
      : Boolean =
    cases.forall { case (name, op, oracle) =>
      Seq(1, 7).forall { p =>
        withShufflePartitions(p) {
          val (got, want) = (rowsOf(Exec.scoped(op())), rowsOf(oracle()))
          if (got != want) info(s"$name at $p partitions:\n  got  $got\n" +
            s"  want $want")
          got == want
        }
      }
    }

  private def check(prop: Prop): Unit = {
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  private def graphCases(rows: Seq[(Option[Long], Option[Long])], cap: Int) = {
    val df = rows.toDF("k", "m")
    Seq(
      ("coCitation", () => Graph.coCitation(df, col("k"), col("m"), cap),
        () => coCitationOracle(df, cap)),
      ("itemSimilarity",
        () => Recommend.itemSimilarity(df, col("k"), col("m"), cap),
        () => itemSimilarityOracle(df, cap)),
      ("linkPrediction",
        () => Graph.linkPrediction(df, col("k"), col("m"), cap),
        () => linkPredictionOracle(df, cap)))
  }

  private def textCases(rows: Seq[(Option[Long], String)], cap: Int,
                        threshold: Double) = {
    val docs = rows.toDF("id", "text")
    val jaccard = (i: Column, a: Column, b: Column) =>
      i.cast("double") / (a + b - i)
    val containment = (i: Column, a: Column, b: Column) =>
      i.cast("double") / least(a, b)
    Seq(
      ("jaccardPairs", () => Dedup.jaccardPairs(docs, col("id"),
          col("text"), threshold, w = 1, maxDf = Some(cap)),
        () => invertedIndexOracle(docs, cap, jaccard, "jaccard", threshold)),
      ("containmentPairs", () => Dedup.containmentPairs(docs, col("id"),
          col("text"), threshold, w = 1, maxDf = Some(cap)),
        () => invertedIndexOracle(docs, cap, containment, "containment",
          threshold)),
      ("tfidfCosineTopK", () => TextAnalysis.tfidfCosineTopK(docs,
          col("id"), col("text"), k = 3, maxDf = cap.toLong),
        () => tfidfCosineOracle(docs, 3, cap.toLong)))
  }

  test("coCitation, itemSimilarity and linkPrediction equal their " +
    "former formulas on random frames with nulls, duplicates and a hub") {
    check(Prop.forAll(Gen.choose(2, 4).flatMap(c => pairRows(c).map(c -> _))) {
      case (cap, rows) => agrees(graphCases(rows, cap))
    })
  }

  test("jaccardPairs, containmentPairs (maxDf) and tfidfCosineTopK equal " +
    "their former formulas on random documents") {
    val gen = for {
      cap <- Gen.choose(2, 4); rows <- docRows(cap)
      t <- Gen.oneOf(0.0, 0.3)
    } yield (cap, rows, t)
    check(Prop.forAll(gen) { case (cap, rows, t) =>
      agrees(textCases(rows, cap, t))
    })
  }

  test("the size cap at its minimum of 2 drops every larger group and " +
    "counts it, the null-key group included") {
    val rows = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(1L)), (Some(1L), Some(2L)), (Some(1L), Some(2L)),
      (Some(2L), Some(1L)), (Some(2L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(1L)), (None, Some(2L)), (None, Some(3L)),
      (Some(3L), None), (Some(3L), Some(1L)), (Some(3L), Some(2L)))
    assert(agrees(graphCases(rows, 2)))
    val co = Graph.coCitation(rows.toDF("k", "m"), col("k"), col("m"), 2)
      .collect()
    // key 1 pairs (1, 2); keys 2, 3 and null hold three members each
    assert(co.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq === Seq((1L, 2L, 1L, 3L)))
    val docs = Seq[(Option[Long], String)]((Some(1L), "a b"),
      (Some(2L), "a b"), (Some(3L), "b c"), (None, "c d"), (Some(4L), "d"))
    assert(agrees(textCases(docs, 2, 0.0)))
  }

  // -- plan: one explicit-count exchange on the key per self-join -----------

  /** Every plan an action executed while `body` ran, checkpoints
    * included. Listener events arrive asynchronously but in order, so a
    * marker action fences them. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val out = Seq.newBuilder[SparkPlan]
    try {
      body
      val marker = spark.range(1).toDF("spec_marker")
      marker.collect()
      var done = false
      while (!done) {
        val qe = seen.poll(60, TimeUnit.SECONDS)
        assert(qe != null, "marker action not seen")
        if (qe eq marker.queryExecution) done = true
        else out += qe.executedPlan
      }
    } finally spark.listenerManager.unregister(l)
    out.result()
  }

  /** The hash exchanges on `key` a join side reads through its chain of
    * single-child operators (looking through broadcasts and reused
    * stages), nearest first. */
  private def keyExchanges(p: SparkPlan, key: Seq[String])
      : List[ShuffleExchangeLike] = {
    def onKey(s: ShuffleExchangeLike) = s.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } == key
      case _ => false
    }
    p match {
      case s: ShuffleQueryStageExec => keyExchanges(s.shuffle, key)
      case s: ShuffleExchangeLike =>
        (if (onKey(s)) List(s) else Nil) ++ keyExchanges(s.child, key)
      case r: ReusedExchangeExec => keyExchanges(r.child, key)
      case b: BroadcastQueryStageExec => keyExchanges(b.plan, key)
      case a: AdaptiveSparkPlanExec => keyExchanges(a.executedPlan, key)
      case u if u.children.size == 1 => keyExchanges(u.children.head, key)
      case _ => Nil
    }
  }

  /** For each self-join on `key` with `member <` `member` that `plans`
    * ran, the sides that do not read exactly one hash exchange on `key`,
    * explicitly counted at `n` partitions. */
  private def keyedSelfJoins(plans: Seq[SparkPlan], key: Seq[String],
                             member: String, n: Int): Seq[Seq[String]] =
    plans.flatMap(p => collectWithSubqueries(p) {
      case j: BaseJoinExec
          if j.leftKeys.collect { case a: Attribute => a.name } == key &&
            j.condition.exists(_.exists {
              case LessThan(a: Attribute, b: Attribute) =>
                a.name == member && b.name == member
              case _ => false
            }) =>
        Seq(j.left, j.right).map(keyExchanges(_, key)).collect {
          case ex if ex.size != 1 || ex.head.shuffleOrigin !=
              REPARTITION_BY_NUM ||
              ex.head.outputPartitioning.numPartitions != n =>
            s"${j.nodeName} side reads " + ex.map(e =>
              s"${e.shuffleOrigin} ${e.outputPartitioning}").mkString(", ")
        }
    })

  test("every pair self-join reads one explicit-count exchange on its " +
    "key") {
    val n = 7
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L),
      (4L, 2L), (5L, 1L), (5L, 3L)).toDF("k", "m")
    val docs = Seq((1L, "alpha beta gamma delta eps zeta"),
      (2L, "alpha beta gamma delta eps zeta"), (3L, "beta gamma delta eta"),
      (4L, "one two three four five six")).toDF("id", "text")
    val sources = Seq(("s1", "alpha beta gamma"), ("s2", "beta gamma delta"),
      ("s3", "gamma delta eps")).toDF("src", "text")
    val rnd = new scala.util.Random(7)
    val emb = (1L to 24L).map(i => (i,
      Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val cases: Seq[(String, Seq[String], String, () => DataFrame)] = Seq(
      ("coCitation", Seq("src"), "dst",
        () => Graph.coCitation(edges, col("k"), col("m"))),
      ("itemSimilarity", Seq("b"), "i",
        () => Recommend.itemSimilarity(edges, col("k"), col("m"))),
      ("linkPrediction", Seq("w"), "n",
        () => Graph.linkPrediction(edges, col("k"), col("m"))),
      ("jaccardPairs", Seq("shingle"), "id", () => Dedup.jaccardPairs(docs,
        col("id"), col("text"), 0.1, maxDf = Some(3))),
      ("minhashLshPairs", Seq("band_idx", "band_hash"), "id",
        () => Dedup.minhashLshPairs(docs, col("id"), col("text"), 0.1)),
      ("tfidfCosineTopK", Seq("tok"), "doc_id",
        () => TextAnalysis.tfidfCosineTopK(docs, col("id"), col("text"), 2)),
      ("sourceOverlap", Seq("tok"), "source",
        () => Kmv.sourceOverlap(sources, col("src"), col("text"), 4)),
      ("lshNearDupPairs", Seq("table", "bucket"), "id",
        () => Similarity.lshNearDupPairs(emb, 0.5)),
      ("semanticDedup exact", Seq("cluster"), "id",
        () => Similarity.semanticDedup(emb, 3, 2, 0.5)),
      ("semanticDedup guarded", Seq("cluster", "table", "bucket"), "id",
        () => Similarity.semanticDedup(emb, 3, 2, 0.5, maxClusterSize = 1)))
    val failures = withShufflePartitions(n) {
      cases.flatMap { case (name, key, member, op) =>
        val plans = executedPlans(Exec.scoped(op().collect()))
        val joins = keyedSelfJoins(plans, key, member, n)
        if (joins.isEmpty) Seq(s"$name: no self-join on ${key.mkString(",")}")
        else joins.flatten.map(f => s"$name: $f")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}
