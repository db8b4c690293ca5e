package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec.{materialize, scoped}

/** Deterministic corpus shuffling + sharding — the "shuffle the corpus,
  * then cut it into training files" stage every pretraining pipeline runs
  * between curation and the trainer (the global random document order
  * that breaks source/crawl locality, re-derivable per epoch by changing
  * the seed string).
  *
  * Spark-first shape, and why it scales where the naive form doesn't:
  * a GLOBAL `orderBy(rand())` is (a) non-reproducible and (b) a full
  * range-partitioned sort of the corpus — at 100 TB that is the single
  * most expensive operation you can ask of the cluster, and the global
  * order is immediately thrown away when the result is split into files.
  * What training actually needs is (1) a uniform, seed-deterministic
  * assignment of documents to `nShards` files and (2) a pseudo-random
  * order WITHIN each file. Both come from one content-independent hash:
  *
  *   - `key  = md5(seed || ':' || id)` — uniform, engine-reproducible,
  *     changes completely with the seed (epoch reshuffles are free);
  *   - `shard = hexDigit(key[0]) mod nShards` — the hash exchange key;
  *   - `pos  = row_number over (partition shard, order key, id)` — a
  *     per-shard sort, never a global one.
  *
  * Executed plan: ONE hash exchange on `shard` + a per-shard window sort
  * (WindowExec after the exchange) — each shard sorts independently in
  * executor memory/spill, so the cost is `nShards` parallel sorts of
  * |corpus|/nShards rows. Size `nShards` to the training-file count
  * (thousands at 100 TB), and every sort fits comfortably.
  */
object Shard {

  /** Default routing threshold for the NTILE family's
    * ([[scalableNtileMulti]], [[scalableNtileByGroup]]) adaptive
    * small-frame dispatch. The bucketed two-phase forms pay a measured
    * 2-8× fixed per-pass job overhead at toy scale (BASELINE.md, r11
    * probes), while the plain window form is only a scale hazard once
    * ONE task must sort the whole frame (global cut) or the hottest
    * group (grouped cut). A 2M-row frame sorts comfortably inside one
    * task (the 2M-row probe's window form ran 4.2 s against 8.3 s
    * bucketed), so sub-threshold frames take the window; above it the
    * two-phase machinery takes over. The forms are bit-identical by
    * construction — dispatch can never change a result, only a plan
    * (ShardSpec pins equality on both paths). Pass `windowFormMax = 0`
    * to force the bucketed path (the scale probes do). */
  val defaultWindowFormMax: Int = 2000000

  /** Bounded-count dispatch probe: "does the frame hold at most `limit`
    * rows?" via `limit(n+1).count()` — early-aborting on big frames
    * (each partition stops once n+1 rows surface) and column-pruned to
    * nothing (an upstream scoring projection is NOT computed for the
    * probe), so its cost is a fraction of any real pass. The probe never
    * evaluates the raise_error guards; the dispatching caller threads
    * the guarded column through the routed window's OUTPUT expression,
    * so the guards fire inside the window job itself — the small path
    * stays at one cheap probe + ONE full pass.
    *
    * Known costs of probing, accepted deliberately: the probe EXECUTES
    * the upstream plan once more (the family was already eager — the
    * big path's quantile sketch runs at call time), and pruning cannot
    * help an upstream whose rows are expensive to PRODUCE (a window or
    * join must still run; a limit cannot early-abort a sort). Chained
    * calls therefore re-execute lower cuts' windows in each layer's
    * probe — pass every cut of a frame to ONE `scalableNtileMulti`
    * call, or materialize the input / pass `windowFormMax = 0` when the
    * upstream is the dominant cost. */
  private def smallFrame(df: DataFrame, limit: Int): Boolean =
    limit > 0 && df.limit(limit + 1).count() <= limit

  /** Value of the first FOUR hex characters of an md5 hex string
    * (0..65535) — the cross-engine uniform bucket draw. Four digits, not
    * one: `mod nShards` of a 16-value draw is uniform only when nShards
    * divides 16; over 65536 values the worst-case bias is nShards/65536,
    * negligible for any practical shard count (DuckDB mirror: the
    * strpos-per-char base-16 expansion, see the q_train_shuffle
    * oracle). The ONE Scala definition of the draw — `Importance`'s
    * feature bucketing shares it, like the SQL side shares one
    * hexPrefixSql — so a widening (e.g. raising the bucket caps the
    * require messages mention) can never desynchronize operators that
    * must agree on the bucketing. */
  private[operators] def hexPrefix4(h: org.apache.spark.sql.Column) =
    conv(substring(h, 1, 4), 16, 10).cast("int")

  /** Eight-hex-digit variant (0..2³²−1, as long) — the wider draw
    * behind `Importance.importanceResample`'s uniform. */
  private[operators] def hexPrefix8(h: org.apache.spark.sql.Column) =
    conv(substring(h, 1, 8), 16, 10).cast("long")

  /** `(idCol, shard, pos)` for every input row: a deterministic
    * permutation of the corpus, cut into `nShards` shards with a
    * pseudo-random order inside each. Same seed → identical output on
    * every run/engine; new seed → an independent permutation. */
  def trainingOrder(docs: DataFrame, seed: String, nShards: Int,
                    idCol: String = "doc_id"): DataFrame =
    orderedShards(docs, None, seed, nShards, idCol)

  /** The shared core of `trainingOrder` / `curriculumOrder` — ONE
    * definition of the seeded key, the hex shard draw, and the
    * within-shard window, so the two can never disagree on shard
    * assignment (their oracle contract). `phase`, when present, leads
    * the window sort and is carried to the output. */
  private def orderedShards(docs: DataFrame, phase: Option[Column],
                            seed: String, nShards: Int,
                            idCol: String): DataFrame = {
    require(nShards >= 1 && nShards <= 4096,
      s"orderedShards: nShards=$nShards out of [1,4096] — four md5 hex " +
        "digits drive the shard draw; widen hexPrefix4 before raising " +
        "the cap")
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val keyed = docs
      .select(col(idCol) +: phase.map(_.as("phase")).toSeq :+
        key.as("__key"): _*)
      .withColumn("shard", hexPrefix4(col("__key")) % nShards)
    val w = Window.partitionBy(col("shard"))
      .orderBy(phase.map(_ => col("phase")).toSeq :+
        col("__key") :+ col(idCol): _*)
    keyed
      .withColumn("pos", row_number().over(w))
      .select(col(idCol) +: col("shard") +:
        phase.map(_ => col("phase")).toSeq :+ col("pos"): _*)
  }

  /** Curriculum-ordered shards: the `trainingOrder` layout with a
    * caller-supplied PHASE rank leading the within-shard sort — every
    * shard streams phase 1 (internally shuffled by the seeded hash),
    * then phase 2, and so on, which is how a distributed trainer
    * consumes curriculum order without any global sort: the shard draw
    * stays the seeded hash (balanced, epoch-reshufflable), only the
    * within-shard window key gains the leading phase column. Output:
    * (idCol, shard, phase, pos). */
  def curriculumOrder(docs: DataFrame, phase: Column, seed: String,
                      nShards: Int,
                      idCol: String = "doc_id"): DataFrame =
    orderedShards(docs, Some(phase), seed, nShards, idCol)

  /** The payload-carrying form: the full input rows plus (shard, pos),
    * repartitioned BY shard and sorted within each partition by pos —
    * exactly the layout `write.partitionBy("shard")` turns into one
    * training file per shard with rows in shuffled order.
    *
    * Computed inline on the payload frame, NOT by joining
    * `trainingOrder` back on the id: the key/shard/pos derivation is a
    * projection plus the same per-shard window the id-only form runs,
    * so recomputing it costs nothing extra, while a join would add a
    * full shuffle of the payload on id before the shard exchange —
    * at corpus scale that join IS the most expensive stage of the
    * naive plan. */
  def shardedForWrite(docs: DataFrame, seed: String, nShards: Int,
                      idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1 && nShards <= 4096,
      s"shardedForWrite: nShards=$nShards out of [1,4096]")
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key"), col(idCol))
    docs
      .withColumn("__key", key)
      .withColumn("shard", hexPrefix4(col("__key")) % nShards)
      .withColumn("pos", row_number().over(w))
      .drop("__key")
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
  }

  /** THE bucketed two-phase exact prefix behind every global running
    * sum or rank in this package: `out` = Σ `value` over the rows up to
    * and including this one in (`bucket`, `order`) order, without the
    * `sum(x).over(Window.orderBy(…))` trap of funnelling the frame
    * through ONE window partition. `bucket` names an INT column that is
    * MONOTONE in `order` (every row of bucket i sorts before every row
    * of bucket i+1), so the buckets in index order replay the global
    * order. Four steps:
    *
    *   1. per-bucket totals, collected (one row per bucket: the
    *      caller bounds the collected state by bounding the bucket
    *      count), unless the caller already holds them as `totals`;
    *   2. exclusive offsets, built with `Math.addExact` (an overflow
    *      fails rather than wraps);
    *   3. the offsets broadcast back;
    *   4. a per-bucket `ROWS` running-sum window after ONE hash exchange
    *      on `bucket`, plus the bucket's offset.
    *
    * With integral `value` every sum is exact under reordering, so the
    * result is bit-identical to the global window on any placement.
    * The `ROWS` frame gives every row its own prefix: a `RANGE` frame
    * would hand order-peers one shared sum, so `order` must break ties
    * wherever that matters. Users: [[systematicPps]] (hex-draw
    * buckets), [[scalableNtileMulti]] (a running count is the rank),
    * [[twoPhaseRunningSum]] (both over [[quantileBuckets]]) and
    * `Graph.noiseTable` (id-range buckets).
    *
    * Returns the frame plus `out` (LONG) and the grand total. */
  private[operators] def twoPhasePrefix(df: DataFrame, bucket: String,
      order: Seq[Column], value: Column, out: String,
      totals: Option[Seq[(Int, Long)]] = None): (DataFrame, Long) = {
    val perBucket = totals.getOrElse(df.groupBy(bucket).agg(sum(value))
      .collect().toSeq
      .map(r => (r.getInt(0), if (r.isNullAt(1)) 0L else r.getLong(1))))
    val (offsets, grand) = perBucket.sortBy(_._1)
      .foldLeft((Vector.empty[(Int, Long)], 0L)) {
        case ((offs, acc), (b, t)) =>
          (offs :+ (b -> acc), Math.addExact(acc, t))
      }
    val spark = df.sparkSession
    import spark.implicits._
    val off = s"${bucket}_off"
    val inBucket = Window.partitionBy(col(bucket)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixed = df.withColumn(out, sum(value).over(inBucket))
      .join(broadcast(offsets.toDF(bucket, off)), Seq(bucket))
      .withColumn(out, col(out) + col(off))
      .drop(off)
    (prefixed, grand)
  }

  /** Monotone [[twoPhasePrefix]] buckets for the guarded DOUBLE columns
    * `ds`: a row's bucket is the count of its column's approximate
    * quantile split points strictly below its value. Rows compare
    * against the same split values their index derives from, so the
    * buckets partition each column's order monotonically whatever the
    * sketch's accuracy — accuracy moves only bucket BALANCE, never a
    * prefix. ONE sketch pass serves every column; at `buckets` = 1 no
    * sketch runs, but one aggregate still evaluates the columns so
    * their null/NaN guards fire instead of being pruned away. */
  private def quantileBuckets(df: DataFrame, ds: Seq[String],
                              buckets: Int): Seq[Column] = {
    val splits =
      if (buckets == 1) {
        df.select(ds.map(d => sum(col(d))): _*).head()
        ds.map(_ => Array.empty[Double])
      } else df.stat.approxQuantile(ds.toArray,
          (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
        .toSeq.map(_.distinct.sorted)
    splits.zip(ds).map { case (s, d) =>
      s.foldLeft(lit(0)) { (acc, x) =>
        acc + when(lit(x) < col(d), 1).otherwise(0) }
    }
  }

  /** The DOUBLE order image `x`, or a loud failure where it has no
    * position: a null has none, and NaN would sort last under Spark's
    * NaN-greatest rule while the quantile sketch gives it no bucket —
    * filter or impute both upstream. */
  private def guardedOrder(x: Column, who: String, what: String,
                           nullAs: String = "null"): Column =
    when(x.isNull, raise_error(lit(s"$who: $nullAs $what — it has no " +
      "defined position in the order; filter or impute upstream")))
      .when(isnan(x), raise_error(lit(s"$who: NaN $what — NaN has no " +
        "defined quantile bucket; filter or impute upstream")))
      .otherwise(x)

  /** `weight` as a LONG, or a loud failure naming the row: a null or
    * non-positive weight has no interval on the sampling line, and
    * dropping or clamping it would change every other row's inclusion
    * probability. */
  private def positiveWeight(weight: Column, who: String,
                             idCol: String): Column = {
    val w = weight.cast("long")
    when(w.isNull || w <= 0, raise_error(concat(
        lit(s"$who: non-positive weight for $idCol="),
        col(idCol).cast("string"))))
      .otherwise(w)
  }

  /** Systematic probability-proportional-to-size sampling WITHOUT
    * replacement (the survey-statistics workhorse — Madow 1949):
    * exactly `n` draws (counted with multiplicity) from a weighted
    * corpus, each row's expected draw count exactly `n·w/W` — the
    * quality-weighted selection stage of a curation pipeline ("keep
    * 10M documents, preferring high scores") without the
    * all-float-ulps fragility of Efraimidis-Spirakis exponential keys
    * (u^(1/w) orderings hinge on libm `pow`, which no cross-engine
    * bit contract covers).
    *
    * Construction — ALL-INTEGER, so the draw is a pure function of
    * (corpus, seed) on any engine: rows are laid on a line in
    * seeded-hash order (`md5(seed:id)`, the trainingOrder draw —
    * systematic sampling needs a random order to decorrelate
    * neighbors; ties on a repeated id break by `w`, then arbitrarily
    * among identical rows, each still taking its own interval), each
    * row occupying an interval of its integer weight
    * `w`; a grid of `n` points at spacing `W/n`, shifted by the
    * seed-derived RANDOM START (`md5(seed) mod W + 1` in n-scaled
    * space — Madow's U ~ Unif(0, W/n], without which the row ending at
    * position W is drawn with certainty and inclusion is biased), is
    * dropped on the line, and a row is drawn once per grid point in
    * its interval — the #{integers in (a,b]} = ⌊b⌋−⌊a⌋ identity,
    * scaled to keep every comparison in exact integer space. Σ mult =
    * n exactly, and the expected draw count of a w-row over the
    * uniform start is exactly n·w/W; rows with w > W/n are "certainty
    * units" drawn ⌊w·n/W⌋ or ⌈w·n/W⌉ times.
    *
    * Scale: the running sum along the line is [[twoPhasePrefix]] over
    * 256 buckets, the leading hex pair of the order key (256 contiguous
    * ranges of the line). Its grand total also guards the `cum·n`
    * long-overflow envelope loudly (ANSI mode would catch it anyway;
    * the require names the fix — rescale weights).
    *
    * Weights must be POSITIVE integers (scale fractional scores to
    * fixed-point units upstream); a null/non-positive weight FAILS the
    * job.
    *
    * Returns (id-named-as-input, w, mult) for rows with mult >= 1, in
    * no particular order.
    */
  def systematicPps(docs: DataFrame, n: Int, weight: Column,
                    seed: String = "pps0",
                    idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"systematicPps: n=$n")
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val keyed = docs
      .select(col(idCol), positiveWeight(weight, "systematicPps", idCol)
        .as("w"), key.as("__key"))
      .withColumn("__bucket",
        conv(substring(col("__key"), 1, 2), 16, 10).cast("int"))
    val (line, grand) = twoPhasePrefix(keyed, "__bucket",
      Seq(col("__key"), col(idCol), col("w")), col("w"), "__cum")
    require(grand > 0, "systematicPps: empty corpus")
    // n+1 (not n): the grid arithmetic below adds one extra W to keep
    // every `div` numerator non-negative (truncating division only
    // equals floor there)
    require(grand <= Long.MaxValue / (n + 1),
      s"systematicPps: total weight $grand * n=$n overflows the exact " +
        "integer grid — rescale weights to coarser units")
    // the Madow RANDOM START, derived from the seed alone (never the
    // data): an integer in [1, W] placing grid point j at scaled
    // position start + j·W. Without it the last row on the line is
    // drawn with certainty and per-row inclusion is NOT n·w/W; with a
    // uniform start every residue class is hit uniformly, making the
    // expected draw count of a w-row EXACTLY n·w/W (review r9s4)
    val start = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.substring(0, 15), 16) % grand + 1
    // mult = #{grid points in (prev, cum]} = ⌊(cum·n − start + W)/W⌋ −
    // ⌊(prev·n − start + W)/W⌋ (the +W keeps numerators ≥ 0 and cancels
    // in the difference; start ≤ W guarantees prev·n − start + W ≥ 0)
    line
      .select(col(idCol), col("w"),
        (expr(s"(__cum * ${n}L - ${start}L + ${grand}L) div ${grand}L") -
          expr(s"((__cum - w) * ${n}L - ${start}L + ${grand}L) " +
            s"div ${grand}L")).as("mult"))
      .where(col("mult") >= 1)
  }

  /** PER-GROUP systematic PPS — "n_g docs from each source, weighted by
    * quality": [[systematicPps]]'s Madow grid instantiated
    * independently inside every group, with the quota, total weight,
    * and random start all GROUP-LOCAL columns, so the whole operator is
    * one relational plan with no driver state at all (the global
    * sampler's 256-row prefix collect disappears — each group's running
    * sum lives in its own window partition). Exactly n_g draws (with
    * multiplicity) per group; expected draws of a w-row are exactly
    * n_g·w/W_g over the seeded start.
    *
    * `quotas` is a (group, n) frame — groups present in the corpus but
    * absent from `quotas` are NOT sampled (quota 0 by omission); quota
    * rows for absent groups are ignored. The per-group start is
    * `md5(seed:group) mod W_g + 1`, so groups draw independently and a
    * new seed re-draws every group.
    *
    * Scale: ONE group-keyed window exchange (quotas broadcast). The
    * per-group running sum serializes within each group's partition —
    * right when groups are many (the mixture-sampling shape: thousands
    * of sources); a corpus where ONE group dwarfs executor memory
    * routes through the global [[systematicPps]] per group instead
    * (its [[twoPhasePrefix]] exists for exactly that).
    * Overflow is guarded row-wise: W_g·(n_g+1) must fit in a long, and
    * the guard raises rather than wraps (ANSI would too; the error
    * names the fix).
    */
  def systematicPpsByGroup(docs: DataFrame, quotas: DataFrame,
                           weight: Column, seed: String = "pps0",
                           idCol: String = "doc_id",
                           grpCol: String = "source"): DataFrame = {
    require(quotas.columns.length == 2,
      s"systematicPpsByGroup: quotas must be (group, n), got " +
        quotas.columns.mkString(", "))
    // duplicate quota rows would fan every doc row out per copy and
    // corrupt the per-group line — fail loudly (the module's posture)
    val qw = Window.partitionBy(col(grpCol))
    val q = quotas.toDF(grpCol, "__n")
      .select(col(grpCol), col("__n").cast("long").as("__n"))
      .withColumn("__n",
        when(count(lit(1)).over(qw) > 1,
          raise_error(concat(lit("systematicPpsByGroup: duplicate " +
            "quota rows for group "), col(grpCol).cast("string"))))
        .otherwise(col("__n")))
      .where(col("__n") >= 1)
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val keyed = docs
      .select(col(idCol), col(grpCol),
        positiveWeight(weight, "systematicPpsByGroup", idCol).as("w"),
        key.as("__key"))
      .join(broadcast(q), Seq(grpCol))
    val wg = Window.partitionBy(col(grpCol))
    // the global sampler's line order and ROWS frame, per group
    val inGrp = wg.orderBy(col("__key"), col(idCol), col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val graded = keyed
      .withColumn("__cum", sum(col("w")).over(inGrp))
      .withColumn("__W", sum(col("w")).over(wg))
      // INTEGRAL comparison (Column `/` on longs is double division,
      // whose ~2^10-ulp slack above 2^53 would let near-threshold
      // weights wrap instead of raise)
      .withColumn("__W", when(col("__W") >
          expr(s"${Long.MaxValue}L div (__n + 1L)"),
        raise_error(concat(lit("systematicPpsByGroup: group "),
          col(grpCol), lit(" total weight overflows the exact grid — " +
            "rescale weights to coarser units"))))
        .otherwise(col("__W")))
      .withColumn("__start",
        conv(substring(md5(concat(lit(seed), lit(":"),
          col(grpCol).cast("string"))), 1, 15), 16, 10).cast("long")
          % col("__W") + 1)
    graded.select(col(idCol), col(grpCol), col("w"),
        (expr("(__cum * __n - __start + __W) div __W") -
          expr("((__cum - w) * __n - __start + __W) div __W"))
          .as("mult"))
      .where(col("mult") >= 1)
  }

  /** The exact NTILE(k) index from a 0-based rank `rank0` among `n`
    * rows (both LONG; `n` a literal for a global cut, a per-group
    * column for [[scalableNtileByGroup]]): the first `n mod k` tiles
    * take ⌈n/k⌉ rows, the rest ⌊n/k⌋, and n < k degenerates to row i →
    * tile i+1. THE tile arithmetic of the NTILE family, so its global
    * and grouped forms agree by construction. */
  private[graft] def tileFromRank(n: Column, k: Int,
                                  rank0: Column): Column = {
    def div(a: Column, b: Column) = call_function("div", a, b)
    val (tq, tr) = (div(n, lit(k.toLong)), n % lit(k.toLong))
    val wide = tr * (tq + 1L) // rows in the ⌈n/k⌉-sized tiles
    when(tq === 0L, rank0 + 1L)
      .when(rank0 < wide, div(rank0, tq + 1L) + 1L)
      .otherwise(div(rank0 - wide, tq) + tr + 1L)
  }

  /** EXACT global running (inclusive-prefix) sum of `value` in `order`
    * ascending, without a single-partition window:
    * [[twoPhasePrefix]] over [[quantileBuckets]] of the order, for the
    * `sum(x).over(Window.orderBy(k))` trap. The sums must be exact
    * under reordering for the result to be bit-identical to the global
    * window — `value` must be INTEGRAL (sums ride as LONG, overflow
    * raises); float sums do NOT qualify (their fold order would
    * change), so pre-scale floats to fixed point upstream.
    *
    * The order is `order`'s NUMERIC value (both the bucket draw and
    * the in-bucket window run over the `cast("double")` image, so they
    * can never disagree — a numeric-string key like "9"/"10" orders
    * numerically, not lexicographically). The cast image must be
    * UNIQUE per row (e.g. a group key): with ties the running sum is
    * order-dependent and no two engines (or two runs) need agree.
    * NULL, non-numeric (cast-to-null), and NaN order values all fail
    * loudly — the guard sits on the CAST result, so a string key that
    * casts to null cannot silently land in bucket 0 and break the
    * monotone-bucket invariant.
    *
    * Returns the input columns plus `out` = Σ value over rows with
    * order ≤ this row's. */
  def twoPhaseRunningSum(df: DataFrame, order: Column, value: Column,
                         out: String, buckets: Int = 64): DataFrame = {
    require(buckets >= 1 && buckets <= 4096,
      s"twoPhaseRunningSum: buckets=$buckets out of [1, 4096]")
    val work = df.withColumn("__ps_d", guardedOrder(order.cast("double"),
      "twoPhaseRunningSum", "order value", nullAs = "null or non-numeric"))
    val bucket = quantileBuckets(work, Seq("__ps_d"), buckets).head
    twoPhasePrefix(work.withColumn("__ps_b", bucket), "__ps_b",
        Seq(col("__ps_d").asc), value, out)._1
      .drop("__ps_d", "__ps_b")
  }

  /** EXACT per-group NTILE(k) without a hot-key single-task window —
    * the grouped companion of [[scalableNtileMulti]], for the
    * `ntile(k).over(Window.partitionBy(g).orderBy(...))` trap where one
    * group holds most of the frame (a pretraining corpus is majority
    * one language, so CCNet-style per-language buckets funnel the
    * corpus through ONE task under the window form). Semantics are
    * identical to SQL NTILE over `(PARTITION BY group, ORDER BY
    * leading [DESC], tiebreak ASC)`.
    *
    * The [[twoPhasePrefix]] construction keyed one level down, as one
    * relational plan: per-group monotone split points (one
    * `percentile_approx` aggregation — sketch quality affects only
    * bucket BALANCE inside a group, never the tile numbers), bucket
    * draw against the own group's splits via a broadcast join, ONE
    * hash exchange on `(group, bucket)` for the per-bucket
    * `row_number`, and a ≤groups×buckets prefix frame (per-(group,
    * bucket) exclusive offsets + per-group total, built with windows
    * over the counts frame itself — ≤`buckets` rows per group, so
    * those windows are trivially bounded) broadcast back; the tile is
    * [[tileFromRank]] of the per-group rank and total.
    *
    * Scale shape: the hot group's rows spread over `buckets` tasks
    * instead of one; the prefix frame is ≤`maxGroups`×`buckets` rows
    * (guarded — this is a per-GROUP primitive for bounded group
    * cardinality like languages or sources, not a per-entity one; for
    * millions of groups the plain window is already parallel enough).
    *
    * NULL groups, and NULL or NaN leading values, FAIL loudly. The
    * input is scanned three times (splits, counts, final) —
    * [[Exec.materialize]] expensive upstream frames first.
    *
    * Returns the input columns plus `out` (INT, 1..k). */
  def scalableNtileByGroup(df: DataFrame, k: Int, group: Column,
                           leading: Column, tiebreak: Column, out: String,
                           descending: Boolean = false, buckets: Int = 64,
                           maxGroups: Int = 65536,
                           windowFormMax: Int = defaultWindowFormMax)
      : DataFrame = scoped {
    require(k >= 1, s"scalableNtileByGroup: k=$k must be >= 1")
    require(buckets >= 1 && buckets <= 4096,
      s"scalableNtileByGroup: buckets=$buckets out of [1, 4096]")
    require(windowFormMax >= 0 && windowFormMax < Int.MaxValue,
      s"scalableNtileByGroup: windowFormMax=$windowFormMax out of range")
    val sp = NtileSpec(k, leading, tiebreak, out, descending)
    val work = df
      .withColumn("__nt_g",
        when(group.isNull, raise_error(lit("scalableNtileByGroup: null " +
          "group value — a null belongs to no partition; filter or " +
          "impute upstream"))).otherwise(group))
      .withColumn("__nt_d",
        guardedOrder(sp.image, "scalableNtileByGroup", "leading value"))
    if (smallFrame(df, windowFormMax)) {
      // Adaptive dispatch (see scalableNtileMulti): sub-threshold frames
      // — where even the HOTTEST group fits one task by definition —
      // take the plain grouped window. Partitioning by the guarded group
      // image (identical values — null raises) and referencing the
      // guarded leading image in the output makes ALL guards fire
      // inside the window job itself. The maxGroups guard deliberately
      // does NOT bind here: it protects the bucketed path's
      // groups×buckets broadcast prefix frame, which this path never
      // builds — it fires exactly when the frame grows into the path
      // that materializes the protected structure.
      return work
        .withColumn(out, when(col("__nt_d").isNotNull,
          ntile(k).over(Window.partitionBy(col("__nt_g"))
            .orderBy(sp.order: _*))).cast("int"))
        .drop("__nt_g", "__nt_d")
    }
    val probs = (1 until buckets).map(_.toDouble / buckets)
    // pass 1: per-group split points (ONE aggregation; ≤groups rows),
    // materialized so the cardinality guard and the broadcast read the
    // same tiny checkpoint instead of re-running the sketch pass
    val splitsDf = materialize(
      if (buckets == 1) {
        // no sketch pass at buckets=1 — force one evaluation of the
        // guarded leading column anyway so null/NaN still fail loudly
        // instead of being pruned with the unused sketch input
        work.agg(sum(col("__nt_d"))).head()
        work.select(col("__nt_g")).distinct()
          .withColumn("__nt_splits", typedLit(Seq.empty[Double]))
      } else
        work.groupBy(col("__nt_g"))
          // accuracy 1000 ≙ the 0.001 relative error quantileBuckets
          // uses — split precision affects only bucket balance
          .agg(percentile_approx(col("__nt_d"), typedLit(probs),
            lit(1000)).as("__nt_splits")))
    val nGroups = splitsDf.count()
    require(nGroups <= maxGroups,
      s"scalableNtileByGroup: $nGroups groups exceeds maxGroups=" +
        s"$maxGroups — the prefix frame (groups×buckets rows) must stay " +
        "broadcast-sized. This primitive is for bounded group " +
        "cardinality (languages, sources); at millions of groups the " +
        "plain grouped window is already parallel — use it, or raise " +
        "maxGroups deliberately")
    val bucketCol =
      if (buckets == 1) lit(0)
      else expr("aggregate(__nt_splits, 0, " +
        "(acc, s) -> acc + IF(s < __nt_d, 1, 0))")
    val wb = work.join(broadcast(splitsDf), Seq("__nt_g"))
      .withColumn("__nt_b", bucketCol).drop("__nt_splits")
    // pass 2: the prefix frame — per-(group,bucket) counts, exclusive
    // offsets and group totals via windows OVER THE COUNTS FRAME
    // (≤buckets rows per group — bounded by construction, no hot task)
    val counts = wb.groupBy(col("__nt_g"), col("__nt_b"))
      .agg(count(lit(1)).as("__nt_c"))
    val wOff = Window.partitionBy(col("__nt_g")).orderBy(col("__nt_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = materialize(counts
      .withColumn("__nt_off", coalesce(sum("__nt_c").over(wOff), lit(0L)))
      .withColumn("__nt_n",
        sum("__nt_c").over(Window.partitionBy(col("__nt_g"))))
      .drop("__nt_c"))
    // pass 3: per-(group,bucket) rank + exact per-group tile arithmetic
    val inBucket = Window.partitionBy(col("__nt_g"), col("__nt_b"))
      .orderBy(sp.order: _*)
    wb.withColumn("__nt_rank0",
        row_number().over(inBucket).cast("long") - 1L)
      .join(broadcast(offDf), Seq("__nt_g", "__nt_b"))
      .withColumn(out, tileFromRank(col("__nt_n"), k,
        col("__nt_rank0") + col("__nt_off")).cast("int"))
      .drop("__nt_g", "__nt_d", "__nt_b", "__nt_rank0", "__nt_off",
        "__nt_n")
  }

  /** One cut of [[scalableNtileMulti]]: NTILE(`k`) over (`leading`
    * [DESC], `tiebreak` ASC) into the INT column `out`. */
  final case class NtileSpec(k: Int, leading: Column, tiebreak: Column,
                             out: String, descending: Boolean = false) {
    /** THE order of the cut — one definition shared by the window and
      * bucketed paths, so dispatch can never drift on a one-sided
      * ordering tweak. */
    private[Shard] def order: Seq[Column] =
      if (descending) Seq(leading.desc, tiebreak.asc)
      else Seq(leading.asc, tiebreak.asc)

    /** The leading value's DOUBLE image, negated for a descending cut
      * so the bucket draw always ascends. */
    private[Shard] def image: Column =
      if (descending) -leading.cast("double") else leading.cast("double")
  }

  /** EXACT global NTILE cuts without a single-partition window — the
    * answer to the scale trap `ntile(k).over(Window.orderBy(...))`,
    * which funnels the whole frame through ONE task. Each [[NtileSpec]]
    * is one cut with SQL NTILE semantics over `(leading [DESC],
    * tiebreak ASC)`: the first `n mod k` tiles get ⌈n/k⌉ rows, the rest
    * ⌊n/k⌋. A single cut is a one-spec call; several cuts of one frame
    * (RFM-style segmentations cut a per-entity frame by several
    * metrics) share every pass.
    *
    * A cut's 0-based rank is [[twoPhasePrefix]]'s running count over
    * [[quantileBuckets]] of the leading value, minus one, and its tile
    * is [[tileFromRank]] of that rank — exact integer arithmetic, so
    * the approximate sketch affects only bucket balance. The leading
    * column is compared through its `cast("double")` image for the
    * bucket draw only; within-bucket ordering uses the ORIGINAL column,
    * so cast collisions (e.g. close timestamps) cannot reorder rows —
    * colliding rows simply share a bucket. NULL and NaN leading values
    * FAIL loudly.
    *
    * Passes, none of which re-executes another cut's window:
    *
    *   1. the guarded input materializes ONCE ([[Exec.materialize]]);
    *   2. ONE multi-column sketch pass draws all split sets;
    *   3. ONE count pass collects every cut's ≤`buckets` bucket totals;
    *   4. the per-cut rank windows + broadcast offset joins chain into
    *      one final plan, executed once.
    *
    * Sizing note: the checkpoint is of the WHOLE input frame — the
    * right shape for dimension-sized per-entity frames (an RFM user
    * table, a per-source rollup). For a corpus-scale frame it costs
    * corpus-sized disk, so select only the columns the cuts and the
    * caller need first.
    *
    * Returns the input columns plus one `spec.out` INT column per
    * spec. */
  def scalableNtileMulti(df: DataFrame, specs: Seq[NtileSpec],
                         buckets: Int = 64,
                         windowFormMax: Int = defaultWindowFormMax)
      : DataFrame = scoped {
    require(specs.nonEmpty, "scalableNtileMulti: no cut specs")
    require(specs.map(_.out).distinct.size == specs.size,
      "scalableNtileMulti: duplicate output column names")
    require(buckets >= 1 && buckets <= 4096,
      s"scalableNtileMulti: buckets=$buckets out of [1, 4096]")
    require(windowFormMax >= 0 && windowFormMax < Int.MaxValue,
      s"scalableNtileMulti: windowFormMax=$windowFormMax out of range")
    specs.foreach(sp => require(sp.k >= 1,
      s"scalableNtileMulti: k=${sp.k} must be >= 1 (${sp.out})"))
    val dCols = specs.indices.map(i => s"__nt_d$i")
    val work = specs.zip(dCols).foldLeft(df) { case (acc, (sp, d)) =>
      acc.withColumn(d, guardedOrder(sp.image, "scalableNtileMulti",
        s"leading value (${sp.out})"))
    }
    if (smallFrame(df, windowFormMax)) {
      // Adaptive dispatch: the two forms are bit-identical by
      // construction (same order, same tile numbers — spec-pinned on
      // both paths), so sub-threshold frames take chained plain windows
      // in ONE plan — no checkpoint, no sketch pass, no count pass.
      // Each output references its spec's guarded cast image (never
      // null — the guard raises first — so the `when` is the identity),
      // so every guard fires inside the window job.
      specs.zip(dCols).foldLeft(work) { case (acc, (sp, d)) =>
        acc.withColumn(sp.out, when(col(d).isNotNull,
          ntile(sp.k).over(Window.orderBy(sp.order: _*))).cast("int"))
      }.drop(dCols: _*)
    } else {
      val mat = materialize(work)
      val bCols = specs.indices.map(i => s"__nt_b$i")
      val bucketExprs = quantileBuckets(mat, dCols, buckets)
      // all bucket totals in ONE scan of the checkpoint, BEFORE any
      // window exists: GROUPING SETS ((b0),(b1),(b2),…) expands each row
      // once per cut and partial aggregation collapses to ≤specs×buckets
      // rows. Bucket columns are never null, so in the output a null b_j
      // simply marks "this row counts cut i≠j".
      val allCounts = mat
        .select(bucketExprs.zip(bCols).map { case (e, b) => e.as(b) }: _*)
        .groupingSets(bCols.map(b => Seq(col(b))), bCols.map(col): _*)
        .agg(count(lit(1)))
        .collect() // ≤ specs × buckets rows
      specs.zip(bCols).zipWithIndex.foldLeft(mat) {
        case (acc, ((sp, b), i)) =>
          val counts = allCounts.toSeq.collect {
            case r if !r.isNullAt(i) => (r.getInt(i), r.getLong(specs.size))
          }
          val (ranked, n) = twoPhasePrefix(acc.withColumn(b, bucketExprs(i)),
            b, sp.order, lit(1L), "__nt_r", Some(counts))
          ranked
            .withColumn(sp.out,
              tileFromRank(lit(n), sp.k, col("__nt_r") - 1L).cast("int"))
            .drop(b, "__nt_r")
      }.drop(dCols: _*)
    }
  }
}
