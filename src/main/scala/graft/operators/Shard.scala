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

  /** Default routing threshold for the `scalableNtile` family's adaptive
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
    * cuts therefore re-execute lower cuts' windows in each layer's
    * probe — for multi-cut frames use `scalableNtileMulti` (one
    * materialization), or materialize the input / pass
    * `windowFormMax = 0` when the upstream is the dominant cost. */
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
    * neighbors), each row occupying an interval of its integer weight
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
    * Scale: the global running sum never funnels through one window
    * partition — rows bucket by the leading hex pair of their order
    * key (256 contiguous ranges of the line), each bucket runs its own
    * running-sum window after ONE hash exchange, and the 256 bucket
    * totals make an exclusive-prefix frame that broadcasts back (the
    * two-phase scan prefix-sum; same discipline as Pack's bucketed
    * running sums, plus the tiny offsets join exactness requires).
    * Driver state: the 256-row totals collect (bounded), which also
    * guards the `cum·n` long-overflow envelope loudly (ANSI mode would
    * catch it anyway; the require names the fix — rescale weights).
    *
    * Weights must be POSITIVE integers (scale fractional scores to
    * fixed-point units upstream); a null/non-positive weight FAILS the
    * job — silently dropping or clamping would change every other
    * row's inclusion probability.
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
      .select(col(idCol), weight.cast("long").as("w"), key.as("__key"))
      .withColumn("w", when(col("w").isNull || col("w") <= 0,
        raise_error(concat(lit("systematicPps: non-positive weight for " +
          s"$idCol="), col(idCol).cast("string"))))
        .otherwise(col("w")))
      .withColumn("__bucket",
        conv(substring(col("__key"), 1, 2), 16, 10).cast("int"))
    val inBucket = Window.partitionBy(col("__bucket"))
      .orderBy(col("__key"), col(idCol))
    val totals = keyed.groupBy("__bucket").agg(sum(col("w")).as("bw"))
      .orderBy("__bucket").collect() // <= 256 rows — the prefix frame
    require(totals.nonEmpty, "systematicPps: empty corpus")
    val grand = totals.map(_.getLong(1)).sum
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
    val offsets = {
      var acc = 0L
      totals.map { r =>
        val off = acc; acc += r.getLong(1); (r.getInt(0), off)
      }.toSeq
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__bucket", "__off"))
    // mult = #{grid points in (prev, cum]} = ⌊(cum·n − start + W)/W⌋ −
    // ⌊(prev·n − start + W)/W⌋ (the +W keeps numerators ≥ 0 and cancels
    // in the difference; start ≤ W guarantees prev·n − start + W ≥ 0)
    keyed
      .withColumn("__cum_in", sum(col("w")).over(inBucket))
      .join(offDf, Seq("__bucket"))
      .withColumn("__cum", col("__cum_in") + col("__off"))
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
    * (its bucketed two-phase prefix sum exists for exactly that).
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
      .select(col(idCol), col(grpCol), weight.cast("long").as("w"),
        key.as("__key"))
      .withColumn("w", when(col("w").isNull || col("w") <= 0,
        raise_error(concat(lit("systematicPpsByGroup: non-positive " +
          s"weight for $idCol="), col(idCol).cast("string"))))
        .otherwise(col("w")))
      .join(broadcast(q), Seq(grpCol))
    val wg = Window.partitionBy(col(grpCol))
    val inGrp = wg.orderBy(col("__key"), col(idCol))
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

  /** EXACT global NTILE(k) without a single-partition window — the
    * two-phase-prefix answer (same discipline as [[systematicPps]]) to
    * the classic scale trap `ntile(k).over(Window.orderBy(...))`, which
    * funnels the whole frame through ONE task. Semantics are identical
    * to SQL NTILE over `(leading [DESC], tiebreak ASC)`: the first
    * `n mod k` tiles get ⌈n/k⌉ rows, the rest ⌊n/k⌋.
    *
    * Why the result is EXACT even though the bucketing uses an
    * approximate quantile sketch: the split points only have to be a
    * MONOTONE partition of the order (every row in bucket i sorts no
    * later than every row in bucket i+1 — guaranteed because rows
    * compare against the same split values their bucket index is
    * derived from). Each bucket then computes row_number after ONE
    * hash exchange, the ≤`buckets` per-bucket counts collect as the
    * exclusive-prefix frame (bounded driver state, the systematicPps
    * pattern), and global_rank = bucket_offset + in_bucket_rank is
    * exact integer arithmetic. Sketch quality affects only bucket
    * BALANCE (a skew concern), never the tile numbers.
    *
    * The leading column is compared through `cast("double")` for the
    * bucket draw only; within-bucket ordering uses the ORIGINAL column,
    * so cast collisions (e.g. close timestamps) cannot reorder rows —
    * colliding rows simply share a bucket. NULL and NaN leading values
    * FAIL loudly: a null has no defined tile, and NaN would silently
    * sort under Spark's NaN-greatest rule while the quantile sketch
    * gives it no defined bucket — filter or impute both upstream.
    *
    * Returns the input columns plus `out` (INT, 1..k). */
  def scalableNtile(df: DataFrame, k: Int, leading: Column,
                    tiebreak: Column, out: String,
                    descending: Boolean = false,
                    buckets: Int = 64,
                    windowFormMax: Int = defaultWindowFormMax): DataFrame = {
    require(k >= 1, s"scalableNtile: k=$k must be >= 1")
    require(buckets >= 1 && buckets <= 4096,
      s"scalableNtile: buckets=$buckets out of [1, 4096]")
    require(windowFormMax >= 0 && windowFormMax < Int.MaxValue,
      s"scalableNtile: windowFormMax=$windowFormMax out of [0, 2^31-2]")
    val spark = df.sparkSession
    import spark.implicits._
    val signed = if (descending) -leading.cast("double")
      else leading.cast("double")
    val work = df.withColumn("__nt_d",
      when(signed.isNull, raise_error(lit("scalableNtile: null leading " +
        "value — a null has no defined tile; filter or impute upstream")))
      .when(isnan(signed), raise_error(lit("scalableNtile: NaN leading " +
        "value — NaN has no defined quantile bucket; filter or impute " +
        "upstream")))
      .otherwise(signed))
    val ordCols: Seq[Column] =
      if (descending) Seq(leading.desc, tiebreak.asc)
      else Seq(leading.asc, tiebreak.asc)
    if (smallFrame(df, windowFormMax)) {
      // Adaptive dispatch: the two forms are bit-identical by
      // construction (same order, same tile arithmetic — spec-pinned on
      // both paths), so a sub-threshold frame takes the plain window and
      // skips the sketch + count passes' fixed per-pass job overhead.
      // The output references the guarded cast image (__nt_d is never
      // null — the guard raises first — so the `when` is the identity),
      // which makes the null/NaN guards fire INSIDE the window job: no
      // guard pre-pass re-executes the upstream plan.
      return work
        .withColumn(out, when(col("__nt_d").isNotNull,
          ntile(k).over(Window.orderBy(ordCols: _*))).cast("int"))
        .drop("__nt_d")
    }
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits =
      if (buckets == 1) {
        // no sketch pass at buckets=1 — force one evaluation of the
        // guarded column anyway so null/NaN leading values still fail
        // loudly instead of being pruned with the unused sketch input
        work.agg(sum(col("__nt_d"))).head()
        Array.empty[Double]
      } else work.stat.approxQuantile("__nt_d", probs, 0.001)
        .distinct.sorted
    val bucketExpr = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(lit(s) < col("__nt_d"), 1).otherwise(0) }
    val wb = work.withColumn("__nt_b", bucketExpr)
    val counts = wb.groupBy("__nt_b").agg(count(lit(1)).as("c"))
      .orderBy("__nt_b").collect() // ≤ buckets rows — the prefix frame
    val n = counts.map(_.getLong(1)).foldLeft(0L)(Math.addExact)
    val offsets = {
      var acc = 0L
      counts.map { r =>
        val off = acc; acc += r.getLong(1); (r.getInt(0), off)
      }.toSeq
    }
    val offDf = broadcast(offsets.toDF("__nt_b", "__nt_off"))
    val inBucket = Window.partitionBy(col("__nt_b")).orderBy(ordCols: _*)
    val withRank = wb
      .withColumn("__nt_rank0",
        row_number().over(inBucket).cast("long") - 1L)
      .join(offDf, Seq("__nt_b"))
      .withColumn("__nt_rank0", col("__nt_rank0") + col("__nt_off"))
    withRank.withColumn(out, tileFromRank(n, k, "__nt_rank0").cast("int"))
      .drop("__nt_d", "__nt_b", "__nt_off", "__nt_rank0")
  }

  /** The exact NTILE(k) index from a 0-based global rank over `n` rows
    * (tile sizes: the first `n mod k` tiles take ⌈n/k⌉ rows, the rest
    * ⌊n/k⌋; n < k degenerates to row i → tile i+1) — THE tile
    * arithmetic, shared by [[scalableNtile]] and [[scalableNtileMulti]]
    * so the single and multi forms are identical by construction.
    * [[scalableNtileByGroup]] spells the same CASE over per-group n
    * COLUMNS (its n varies by group and cannot be a literal here). */
  private[graft] def tileFromRank(n: Long, k: Int, rank0: String): Column = {
    val (tq, tr) = (n / k, n % k)
    if (tq == 0L) col(rank0) + 1L
    else expr(s"IF($rank0 < ${tr * (tq + 1L)}L, " +
      s"$rank0 div ${tq + 1L}L + 1L, " +
      s"($rank0 - ${tr * (tq + 1L)}L) div ${tq}L + ${tr + 1L}L)")
  }

  /** EXACT global running (inclusive-prefix) sum of `value` in `order`
    * ascending, without a single-partition window — the companion of
    * [[scalableNtile]] for the `sum(x).over(Window.orderBy(k))` trap.
    * Same two-phase shape: monotone approx-quantile bucketing (split
    * quality affects only balance, never the result), one per-bucket
    * running-sum window after a hash exchange, ≤`buckets` bucket totals
    * collected as the exclusive-prefix frame and broadcast back. The
    * sums must be exact under reordering for the result to be
    * bit-identical to the global window — `value` must be INTEGRAL
    * (sums ride as LONG, overflow raises); float sums do NOT qualify
    * (their fold order would change), so pre-scale floats to fixed
    * point upstream.
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
    val spark = df.sparkSession
    import spark.implicits._
    val cast = order.cast("double")
    val work = df.withColumn("__ps_d",
      when(cast.isNull, raise_error(lit("twoPhaseRunningSum: null or " +
        "non-numeric order value — it has no defined prefix position; " +
        "filter or fix upstream")))
      .when(isnan(cast), raise_error(lit("twoPhaseRunningSum: NaN " +
        "order value — NaN has no defined quantile bucket; filter " +
        "upstream")))
      .otherwise(cast))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits =
      if (buckets == 1) {
        // no sketch pass at buckets=1 — force one evaluation of the
        // guarded column anyway so null/NaN keys still fail loudly
        // instead of being pruned away with the unused quantile input
        work.agg(sum(col("__ps_d"))).head()
        Array.empty[Double]
      } else work.stat.approxQuantile("__ps_d", probs, 0.001)
        .distinct.sorted
    val bucketExpr = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(lit(s) < col("__ps_d"), 1).otherwise(0) }
    val wb = work.withColumn("__ps_b", bucketExpr)
    val totals = wb.groupBy("__ps_b").agg(sum(value).as("t"))
      .orderBy("__ps_b").collect() // ≤ buckets rows — the prefix frame
    val offsets = {
      var acc = 0L
      totals.map { r =>
        val off = acc
        acc = Math.addExact(acc, if (r.isNullAt(1)) 0L else r.getLong(1))
        (r.getInt(0), off)
      }.toSeq
    }
    val offDf = broadcast(offsets.toDF("__ps_b", "__ps_off"))
    // order by the SAME cast image the buckets were drawn from — a
    // string key ordered lexicographically here could disagree with
    // its numeric bucket and make the result splits-dependent
    val inBucket = Window.partitionBy(col("__ps_b"))
      .orderBy(col("__ps_d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wb.withColumn("__ps_in", sum(value).over(inBucket))
      .join(offDf, Seq("__ps_b"))
      .withColumn(out, col("__ps_in") + col("__ps_off"))
      .drop("__ps_d", "__ps_b", "__ps_in", "__ps_off")
  }

  /** EXACT per-group NTILE(k) without a hot-key single-task window —
    * the grouped companion of [[scalableNtile]], for the
    * `ntile(k).over(Window.partitionBy(g).orderBy(...))` trap where one
    * group holds most of the frame (a pretraining corpus is majority
    * one language, so CCNet-style per-language buckets funnel the
    * corpus through ONE task under the window form). Semantics are
    * identical to SQL NTILE over `(PARTITION BY group, ORDER BY
    * leading [DESC], tiebreak ASC)`.
    *
    * Same two-phase construction as [[scalableNtile]], keyed one level
    * down: per-group monotone split points (one `percentile_approx`
    * aggregation — sketch quality affects only bucket BALANCE inside a
    * group, never the tile numbers), bucket draw against the own
    * group's splits via a broadcast join, ONE hash exchange on
    * `(group, bucket)` for the per-bucket `row_number`, and a
    * ≤groups×buckets prefix frame (per-(group,bucket) exclusive
    * offsets + per-group total, built with windows over the
    * counts frame itself — ≤`buckets` rows per group, so those windows
    * are trivially bounded) broadcast back. global-in-group rank =
    * bucket_offset + in_bucket_rank is exact integer arithmetic;
    * per-group tile sizes (first `n_g mod k` tiles get ⌈n_g/k⌉ rows)
    * come from the same frame.
    *
    * Scale shape: the hot group's rows spread over `buckets` tasks
    * instead of one; the prefix frame is ≤`maxGroups`×`buckets` rows
    * (guarded — this is a per-GROUP primitive for bounded group
    * cardinality like languages or sources, not a per-entity one; for
    * millions of groups the plain window is already parallel enough).
    *
    * NULL groups, and NULL or NaN leading values, FAIL loudly (same
    * policy as [[scalableNtile]]). The input is scanned three times
    * (splits, counts, final) — [[Exec.materialize]] expensive
    * upstream frames first.
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
    val signed = if (descending) -leading.cast("double")
      else leading.cast("double")
    val work = df
      .withColumn("__nt_g",
        when(group.isNull, raise_error(lit("scalableNtileByGroup: null " +
          "group value — a null belongs to no partition; filter or " +
          "impute upstream"))).otherwise(group))
      .withColumn("__nt_d",
        when(signed.isNull, raise_error(lit("scalableNtileByGroup: null " +
          "leading value — a null has no defined tile; filter or " +
          "impute upstream")))
        .when(isnan(signed), raise_error(lit("scalableNtileByGroup: " +
          "NaN leading value — NaN has no defined quantile bucket; " +
          "filter or impute upstream")))
        .otherwise(signed))
    val ordCols: Seq[Column] =
      if (descending) Seq(leading.desc, tiebreak.asc)
      else Seq(leading.asc, tiebreak.asc)
    if (smallFrame(df, windowFormMax)) {
      // Adaptive dispatch (see scalableNtile): sub-threshold frames —
      // where even the HOTTEST group fits one task by definition — take
      // the plain grouped window. Partitioning by the guarded group
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
            .orderBy(ordCols: _*))).cast("int"))
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
          // accuracy 1000 ≙ the 0.001 relative error scalableNtile
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
      .orderBy(ordCols: _*)
    wb.withColumn("__nt_rank0",
        row_number().over(inBucket).cast("long") - 1L)
      .join(broadcast(offDf), Seq("__nt_g", "__nt_b"))
      .withColumn("__nt_r0", col("__nt_rank0") + col("__nt_off"))
      .withColumn("__nt_tq", expr(s"__nt_n div ${k}L"))
      .withColumn("__nt_tr", expr(s"__nt_n % ${k}L"))
      .withColumn(out, expr(
        """CAST(CASE
          |  WHEN __nt_tq = 0L THEN __nt_r0 + 1L
          |  WHEN __nt_r0 < __nt_tr * (__nt_tq + 1L)
          |    THEN __nt_r0 DIV (__nt_tq + 1L) + 1L
          |  ELSE (__nt_r0 - __nt_tr * (__nt_tq + 1L)) DIV __nt_tq
          |    + __nt_tr + 1L
          |END AS INT)""".stripMargin))
      .drop("__nt_g", "__nt_d", "__nt_b", "__nt_rank0", "__nt_r0",
        "__nt_off", "__nt_n", "__nt_tq", "__nt_tr")
  }

  /** One cut specification for [[scalableNtileMulti]] — the arguments
    * of a single [[scalableNtile]] call. */
  final case class NtileSpec(k: Int, leading: Column, tiebreak: Column,
                             out: String, descending: Boolean = false)

  /** THE order of one cut — a single definition shared by the window
    * and bucketed paths so the dispatch bit-identity can never drift
    * on a one-sided ordering tweak. */
  private def specOrd(sp: NtileSpec): Seq[Column] =
    if (sp.descending) Seq(sp.leading.desc, sp.tiebreak.asc)
    else Seq(sp.leading.asc, sp.tiebreak.asc)

  /** Several [[scalableNtile]] cuts over ONE materialized frame —
    * the multi-metric form (RFM-style segmentations cut the same
    * per-entity frame by several metrics). Chaining single cuts
    * re-executes the upstream plan per phase of every later cut
    * (cut 3's sketch pass re-runs cut 1's window+join); this instead:
    *
    *   1. materializes the guarded input ONCE ([[Exec.materialize]]);
    *   2. draws ALL split sets in ONE multi-column `approxQuantile`
    *      pass;
    *   3. collects each cut's ≤`buckets`-row prefix frame from the
    *      checkpoint BEFORE any window is attached — so no count pass
    *      ever re-executes another cut's window;
    *   4. chains the per-bucket rank windows + broadcast offset joins
    *      into one final plan, executed once.
    *
    * Tile numbers are bit-identical to applying [[scalableNtile]] per
    * spec (same splits discipline, same integer arithmetic); each
    * spec's null/NaN policy is the same loud failure.
    *
    * Sizing note: the checkpoint is of the WHOLE input frame — this is
    * the right shape for dimension-sized per-entity frames (an RFM
    * user table, a per-source rollup), where it converts per-cut
    * re-aggregation into one cheap materialization. For a genuinely
    * corpus-scale frame, checkpointing the corpus costs corpus-sized
    * disk; apply independent [[scalableNtile]] cuts (each re-reading
    * the columnar source, which prunes to the cut's columns) instead.
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
    val spark = df.sparkSession
    import spark.implicits._
    val dCols = specs.indices.map(i => s"__nt_d$i")
    val work = specs.zipWithIndex.foldLeft(df) { case (acc, (sp, i)) =>
      val signed = if (sp.descending) -sp.leading.cast("double")
        else sp.leading.cast("double")
      acc.withColumn(dCols(i),
        when(signed.isNull, raise_error(lit("scalableNtileMulti: null " +
          s"leading value (${sp.out}) — a null has no defined tile; " +
          "filter or impute upstream")))
        .when(isnan(signed), raise_error(lit("scalableNtileMulti: NaN " +
          s"leading value (${sp.out}) — NaN has no defined quantile " +
          "bucket; filter or impute upstream")))
        .otherwise(signed))
    }
    if (smallFrame(df, windowFormMax)) {
      // Adaptive dispatch (see scalableNtile): sub-threshold frames take
      // chained plain windows in ONE plan — no checkpoint, no sketch
      // pass, no grouping-sets count pass. Each output references its
      // spec's guarded cast image, so every guard fires inside the
      // window job.
      specs.zipWithIndex.foldLeft(work) { case (acc, (sp, i)) =>
        acc.withColumn(sp.out, when(col(dCols(i)).isNotNull,
          ntile(sp.k).over(Window.orderBy(specOrd(sp): _*))).cast("int"))
      }.drop(dCols: _*)
    } else {
      val mat = materialize(work)
      val probs = (1 until buckets).map(_.toDouble / buckets).toArray
      // one sketch pass for ALL metrics
      val allSplits: Array[Array[Double]] =
        if (buckets == 1) Array.fill(specs.size)(Array.empty[Double])
        else mat.stat.approxQuantile(dCols.toArray, probs, 0.001)
          .map(_.distinct.sorted)
      val bucketExprs = specs.indices.map { i =>
        allSplits(i).foldLeft(lit(0)) { (acc, s) =>
          acc + when(lit(s) < col(dCols(i)), 1).otherwise(0) }
      }
      // all prefix frames in ONE scan of the checkpoint, BEFORE any
      // window exists: GROUPING SETS ((b0),(b1),(b2),…) expands each row
      // once per cut and partial aggregation collapses to ≤specs×buckets
      // rows — at corpus scale this replaces one full scan PER CUT with
      // a single one. Bucket columns are never null, so in the output a
      // null b_j simply marks "this row counts cut i≠j".
      val bCols = specs.indices.map(i => s"__nt_cb$i")
      val withB = mat.select(bucketExprs.zipWithIndex.map {
        case (e, i) => e.as(bCols(i)) }: _*)
      val allCounts = withB.groupingSets(
          specs.indices.map(i => Seq(col(bCols(i)))),
          bCols.map(col): _*)
        .agg(count(lit(1)).as("c"))
        .collect() // ≤ specs × buckets rows — the prefix frames
      val cuts = specs.zipWithIndex.map { case (sp, i) =>
        val counts = allCounts
          .filter(r => !r.isNullAt(i))
          .map(r => (r.getInt(i), r.getLong(specs.size)))
          .sortBy(_._1)
        val n = counts.map(_._2).foldLeft(0L)(Math.addExact)
        val offsets = {
          var acc = 0L
          counts.map { case (b, c) =>
            val off = acc; acc += c; (b, off)
          }.toSeq
        }
        (sp, i, n, offsets)
      }
      val withTiles = cuts.foldLeft(mat) { case (acc, (sp, i, n, offsets)) =>
        val b = s"__nt_b$i"; val off = s"__nt_off$i"; val r0 = s"__nt_r0$i"
        val offDf = broadcast(offsets.toDF(b, off))
        val inBucket = Window.partitionBy(col(b)).orderBy(specOrd(sp): _*)
        acc.withColumn(b, bucketExprs(i))
          .withColumn(r0, row_number().over(inBucket).cast("long") - 1L)
          .join(offDf, Seq(b))
          .withColumn(r0, col(r0) + col(off))
          .withColumn(sp.out, tileFromRank(n, sp.k, r0).cast("int"))
          .drop(b, off, r0)
      }
      withTiles.drop(dCols: _*)
    }
  }
}
