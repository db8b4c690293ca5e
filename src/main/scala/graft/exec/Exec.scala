package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation,
  SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Execution primitives shared by every operator family, and the one
  * owner of checkpoint lifetimes.
  *
  * Lifetimes are scoped, never hand-paired: every `materialize` joins the
  * innermost open [[scoped]] block on the calling thread, and that block
  * releases every frame it still holds when it returns or throws — except
  * the frames a returned `Dataset` reads, which move to the enclosing
  * scope. With no enclosing scope an escaping frame is simply no longer
  * tracked: it keeps its storage for as long as the caller references
  * it. A query runner that wraps the query AND its action in `scoped`
  * therefore releases everything the query materialized, including
  * frames behind a lazily returned output.
  */
object Exec {

  private final class Scope(val parent: Scope) {
    val frames = collection.mutable.LinkedHashMap.empty[Int, DataFrame]
  }
  private val innermost = new ThreadLocal[Scope]

  /** Partition count for the explicitly-pinned exchanges that feed heavy
    * per-row work (interpreted sort-folds, per-token windows, within-group
    * pair fan-out): explicit because AQE sizes post-shuffle stages on
    * bytes and cannot see per-row cost. */
  private[graft] def workParallelism(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Spread rows across all cores BEFORE per-row-expensive expressions
    * (shingling, token explode, signature hashing). Small corpora arrive
    * as 1-2 parquet splits, which would serialize the whole CPU-bound
    * stage on one task; the round-robin shuffle of the skinny (id, text)
    * projection is orders of magnitude cheaper than the work it unlocks.
    * On a real cluster with thousands of input splits this is a no-op
    * cost-wise (one extra narrow-ish exchange of the projected columns).
    */
  private[graft] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Keyed spread for the posting builders: one explicit-count hash
    * exchange on the document key, placed BEFORE the heavy
    * normalize/split/explode projection. Downstream per-document windows
    * and aggregates reuse the partitioning (hash(id) satisfies every
    * ClusteredDistribution keyed on id), so no second exchange appears —
    * and because the count is explicit, AQE cannot coalesce the stage
    * that does the real per-token work down to 2-3 tasks based on the
    * (small) upstream text bytes (r12: the shingle windows of a 5k-doc
    * corpus ran on 3 AQE-coalesced tasks, ~4 s of the dedup family's
    * wall; guide §2.5 — size on output work, not input bytes). */
  private[graft] def spreadBy(df: DataFrame, key: Column): DataFrame =
    df.repartition(workParallelism(df.sparkSession), key)

  /** The size column [[keyGroups]] adds when it caps: the number of
    * distinct rows of the key group. */
  private[graft] val KeySize = "key_size"

  /** The input side of the one pair generator behind every "members
    * sharing a key" self-join (co-citation sources, link-prediction
    * wedge centres, item-item baskets, inverted-index postings, LSH
    * bands, clusters): the distinct rows of `rows`, hash-spread on `key`.
    * [[keyPairs]] pairs them.
    *
    * One explicit-count exchange on the key (`workParallelism`) feeds
    * the distinct, the size window and both sides of the self-join, so
    * no second exchange appears. The count is explicit because the pair
    * fan-out is quadratic per key AFTER this exchange, while AQE sizes a
    * stage by its input bytes: left to AQE, the skinny (key, member)
    * stage coalesced to one task that generated every pair serially
    * (4.7 s of a 5.0 s LSH query, 1.5 s of a 2.3 s tf-idf query, both at
    * sf0.1; guide §2.5 — size on output work, not input bytes).
    *
    * With `maxSize`, a window count over the key adds [[KeySize]] and
    * only groups of at most `maxSize` rows are kept — the hub cap of the
    * pair operators: a key shared by everything asserts no pairwise
    * association and would fan out quadratically. [[cappedKeyGroups]]
    * also counts the groups it drops. A null key or member counts toward
    * its group's size but never pairs. */
  private[graft] def keyGroups(rows: DataFrame, key: Seq[String],
                               member: String, maxSize: Option[Long] = None,
                               observe: DataFrame => DataFrame = identity)
      : DataFrame = {
    val spread = rows
      .repartition(workParallelism(rows.sparkSession), key.map(col): _*)
      .distinct()
    maxSize.fold(spread) { cap =>
      val byKey = Window.partitionBy(key.map(col): _*).orderBy(col(member))
      // `observe` (see cappedKeyGroups) sits before the cap, so that it
      // sees the groups the cap drops
      observe(spread
          .withColumn(KeySize, count(lit(1)).over(byKey.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("__rank", row_number().over(byKey)))
        .where(col(KeySize) <= cap)
        .drop("__rank")
    }
  }

  /** [[keyGroups]] capped at `maxSize` and materialized, with the number
    * of key groups the cap dropped (a null-key group included), observed
    * on the same checkpoint action as the first row of each over-size
    * group: the count costs no job and no broadcast of its own. */
  private[graft] def cappedKeyGroups(rows: DataFrame, key: Seq[String],
                                     member: String, maxSize: Long)
      : (DataFrame, Long) = {
    val o = new Observation(observationName)
    val kept = materialize(keyGroups(rows, key, member, Some(maxSize),
      _.observe(o, count(when(col(KeySize) > maxSize &&
        col("__rank") === 1, 1)).as("dropped"))))
    (kept, o.get("dropped").asInstanceOf[Long])
  }

  /** The self-join of [[keyGroups]] output: every two rows that share
    * `key`, `member` ascending from side `a` to side `b` (callers read
    * `a.<col>` and `b.<col>` and keep their own aggregate). The join
    * reads the explicit-count key exchange: over a lazy [[keyGroups]]
    * frame the planner drops this repartition as the one already in
    * place; over a checkpoint, which forgets its partitioning, it is the
    * exchange. Both sides are the identical subtree, so it is computed
    * once and reused. */
  private[graft] def keyPairs(groups: DataFrame, key: Seq[String],
                              member: String): DataFrame = {
    val spread = groups.repartition(workParallelism(groups.sparkSession),
      key.map(col): _*)
    spread.as("a").join(spread.as("b"),
      key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$member") < col(s"b.$member"))
  }

  /** Materialize an iteration frontier, cutting lineage. Uses a RELIABLE
    * checkpoint when the session has a checkpoint dir (executor loss
    * replays from storage — required on a real cluster, where a lost
    * executor would otherwise kill the job because localCheckpoint blocks
    * are unrecoverable); falls back to localCheckpoint for local runs. */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val m =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val scope = innermost.get
    if (scope != null) checkpointId(m).foreach(scope.frames(_) = m)
    m
  }

  private val observationName = "graft_observed"

  /** [[materialize]] `df` and evaluate the aggregate `metrics` over the
    * rows that same checkpoint action writes: a scalar the next step
    * needs (a count, a mass) comes back without a job of its own. The
    * observation name is fixed because it is part of the plan's
    * generated code: a per-call name would compile new classes on
    * every call. */
  private[graft] def materializeObserved(df: DataFrame, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val o = new Observation(observationName)
    val m = materialize(df.observe(o, metrics.head, metrics.tail: _*))
    (m, o.get)
  }

  /** Release the storage behind a `materialize`d frame once a later round
    * supersedes it. `Dataset.unpersist` is NOT enough here: it only
    * releases cacheManager-tracked `persist()` plans, while checkpoint
    * storage lives on the underlying RDD — localCheckpoint blocks sit in
    * the block manager until the RDD is GC'd and the ContextCleaner
    * notices, and reliable-checkpoint FILES are never deleted for the
    * application's lifetime. Both are real leaks in an iterate-many-rounds
    * operator, so this reaches through the plan's `LogicalRDD` to the
    * checkpointed RDD: unpersist its blocks and delete its checkpoint
    * files (if reliable). No-op on frames that aren't materialized. */
  private[graft] def release(df: DataFrame): Unit = {
    val scope = innermost.get
    if (scope != null) checkpointId(df).foreach(scope.frames.remove)
    free(df)
  }

  /** One round of an iterate-materialize-release loop: materialize
    * `next` (whose plan reads `prev`), THEN release `prev` — never the
    * other way round, because localCheckpoint blocks cannot be
    * recomputed. */
  private[graft] def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val m = materialize(next)
    release(prev)
    m
  }

  /** Run `body` as one checkpoint-lifetime scope: see [[Exec]]. A
    * `Dataset` result is kept (the frames its plan reads move to the
    * enclosing scope); every other frame materialized inside is
    * released on return and on throw. */
  private[graft] def scoped[T](body: => T): T = {
    val scope = new Scope(innermost.get)
    innermost.set(scope)
    try {
      val out = body
      out match { case d: Dataset[_] => keep(scope, d); case _ => }
      out
    } finally {
      innermost.set(scope.parent)
      scope.frames.values.foreach(free)
    }
  }

  /** Hand the frames `df` reads from `scope` to its parent scope; with
    * no parent they are simply no longer tracked. */
  private def keep(scope: Scope, df: Dataset[_]): Unit = {
    val read = df.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd.id }
    for (id <- read; f <- scope.frames.remove(id))
      if (scope.parent != null) scope.parent.frames(id) = f
  }

  private def checkpointId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  private def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        l.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val fs = path.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(path, true)
        }
        l.rdd.unpersist(blocking = false)
      case other =>
        // a frame that isn't a LogicalRDD was never materialize()d — if a
        // Spark version bump changes the checkpoint plan shape, the storage
        // leak this method fixes would quietly return. Be loud about it.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"release: plan is ${other.getClass.getSimpleName}, " +
            "not LogicalRDD — checkpoint storage NOT released (plan shape " +
            "changed?)")
    }

  /** Deterministic id-ordered sequential fold Σ value per key group —
    * the bit-reproducibility-critical aggregation shared by the
    * oracle/repro modes of `kMeansCentroids` and
    * `Classify.perceptronTrain` (one definition so a future parity fix
    * cannot drift between them): each group's (id, value) structs are
    * collected, sorted by id, and summed in one ascending fold, matching
    * a sequential engine's `list_sum(list(v ORDER BY id))` bit-for-bit.
    * Holds each group's cells in memory — the repro modes' documented
    * cost; scale paths use plain partial-agg sums. Returns the key
    * columns plus (__sum, __count). */
  private[graft] def sequentialSumByKey(cells: DataFrame,
                                        keys: Seq[String],
                                        idCol: String,
                                        valCol: String,
                                        extraAggs: Seq[Column] = Nil)
      : DataFrame =
    sequentialSumByKeyOrdered(cells, keys, Seq(idCol), valCol, extraAggs)

  /** [[sequentialSumByKey]] with a COMPOSITE fold order: cells are
    * sorted by the `orderCols` tuple (struct comparison — column by
    * column ascending), matching a sequential engine's
    * `list_sum(list(v ORDER BY c1, c2, ...))`. The single-column form
    * above delegates here so there is exactly one fold definition. */
  private[graft] def sequentialSumByKeyOrdered(cells: DataFrame,
                                               keys: Seq[String],
                                               orderCols: Seq[String],
                                               valCol: String,
                                               extraAggs: Seq[Column] = Nil)
      : DataFrame = {
    // the fold below is INTERPRETED per-row work that AQE cannot see in
    // its byte-based sizing: without an explicit partition count the
    // post-shuffle stage coalesces to one task and the whole per-key
    // sort+fold serializes (measured ~230 ms/epoch on the perceptron's
    // 26k cells vs ~30 ms spread, r12 — the entity-levenshtein lesson,
    // guide §2.5). The keyed repartition pins workParallelism and the
    // groupBy reuses its partitioning, so no second exchange appears;
    // per-key fold order (and thus every value) is
    // partition-placement-independent.
    val spreadCells = cells.repartition(
      workParallelism(cells.sparkSession), keys.map(col): _*)
    val agged = spreadCells.groupBy(keys.map(col): _*)
      .agg(collect_list(struct((orderCols :+ valCol).map(col): _*))
          .as("__xs"),
        count(lit(1)).as("__count") +: extraAggs: _*)
    // caller-supplied extra aggregates (must be aliased) ride along in
    // the same single-pass aggregation
    val extraNames = agged.columns
      .filterNot(c => keys.contains(c) || c == "__xs" || c == "__count")
    agged.select(keys.map(col) ++ extraNames.map(col) :+
      orderedSum(col("__xs"), valCol).as("__sum") :+
      col("__count"): _*)
  }

  /** The one ordered fold: Σ of field `valField` over the struct array
    * `xs`, sorted ascending (struct order: first field first) and added
    * left to right from 0.0 — a sequential engine's
    * `list_sum(list(v ORDER BY ...))` bit-for-bit. */
  private[graft] def orderedSum(xs: Column, valField: String): Column =
    aggregate(array_sort(xs), lit(0.0),
      (acc, s) => acc + s.getField(valField).cast("double"))
}
