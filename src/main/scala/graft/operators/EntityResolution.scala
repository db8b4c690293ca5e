package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{materialize, workParallelism}

/** Fuzzy record linkage / entity resolution: collapse name VARIANTS
  * ("Dr. Jane Doe" / "jane doe" / a typo'd form) of the same real-world
  * entity to one canonical id — the author-disambiguation layer a
  * scholarly pipeline runs before any per-author statistic (h-index,
  * co-authorship edges) means anything (reference: the author-string
  * normalize+join family, data_processor.py; the entity itself is never
  * resolved there — every variant counts separately, which is exactly
  * the miscount this operator removes).
  *
  * Classic blocked-linkage shape, kept fully relational:
  *
  *  1. NORMALIZE: case-fold + strip non-alphanumerics (the F1-F5
  *     normalize discipline applied to names). Null/empty-norm records
  *     never enter a block: they resolve as themselves (the valid-key
  *     exemption the dedup family applies before its shuffles — also
  *     removes the null hot key).
  *  2. BLOCK: records pair ONLY within a caller-chosen block key — the
  *     standard way record linkage avoids the corpus-wide O(N²) name
  *     cross product. The pair stage is explicitly hash-partitioned on
  *     the block key (per-pair edit distance is the dominant cost;
  *     without the exchange a broadcast join would inherit the input
  *     partitioning and a single-file source would run every distance
  *     in one task). A `maxBlock` guard drops OVERSIZED blocks from
  *     pairing deterministically (count-based, so the DuckDB oracle
  *     reproduces the decision): an undiscriminative key ("smith")
  *     would otherwise reintroduce the quadratic this operator exists
  *     to avoid. Dropped blocks degrade to no-match (records survive as
  *     themselves) — the same honest-refusal posture as `Cooccur`'s hub
  *     cap.
  *  3. MATCH: within-block `id_a < id_b` pairs gated by an INTEGER-exact
  *     edit-distance ratio: levenshtein(a, b) * den <= max(len) * num —
  *     cross-multiplied longs, no float division, so the decision is
  *     bit-identical in any engine and the whole operator stays under
  *     the hash oracle. The distance runs BANDED: a one-scalar probe of
  *     the longest normalized name fixes a global threshold >= every
  *     row's gate, and Spark's thresholded levenshtein computes the
  *     O(len·threshold) band with early exit instead of the full
  *     O(len²) matrix (unbanded, the distance alone cost 5.6 s of a
  *     990k-candidate probe). Pairs the band refuses (-1) are exactly
  *     pairs above the gate, so the result is unchanged — an execution
  *     strategy, not a semantic.
  *  4. CLUSTER: matched pairs → per-block UNION-FIND (`flatMapGroups`),
  *     entity id = min record id of the component (the priority-dedup
  *     survivor convention). One shuffle, no iteration: match edges
  *     exist only WITHIN a block, so components cannot cross blocks and
  *     the global O(log²)-round star contraction
  *     (`Dedup.connectedComponentsStar` — the right tool when edges are
  *     unconstrained) collapses to a local pass over each block's
  *     edges. The `maxBlock` guard is what makes this sound at scale:
  *     per-task state is bounded by the largest admitted block, never
  *     the corpus.
  *
  * Record ids must be integral (the union-find keys on longs); nothing
  * unbounded is collected to the driver (the length probe is one
  * scalar, the same class as the ANN dim probe). End-to-end at 45k
  * records / 990k candidates: 25 s with full-matrix distances and
  * distributed star-CC → 9.7 s with the band + per-block union-find,
  * identical output.
  */
object EntityResolution {

  /** The name-normalization used for matching: case-fold, strip every
    * non-alphanumeric (titles' dots, hyphens, spaces). */
  def normalizeName(name: Column): Column =
    regexp_replace(lower(name), "[^a-z0-9]", "")

  /** Within-block candidate pairs passing the integer-exact similarity
    * gate. Input frame must carry (id, norm, blk); output
    * (blk, id_a, id_b). Blocks larger than `maxBlock` are excluded from
    * pairing; `cap` bounds the banded levenshtein (must be >= every
    * row's gate threshold). */
  private def matchedPairs(recs: DataFrame, maxDistNum: Int,
                           maxDistDen: Int, maxBlock: Int,
                           cap: Int,
                           preGuarded: Option[DataFrame] = None)
      : DataFrame = {
    // block histogram is #distinct-blocks-sized (small relative to the
    // corpus); the explicit blk exchange spreads the edit-distance work.
    // `preGuarded` lets a caller that already built the histogram-
    // filtered (id, norm, blk) frame share it instead of paying the
    // histogram shuffle twice per probe (the probeEntityIndex case).
    // The exchange pins an EXPLICIT partition count (the session's
    // shuffle parallelism): a bare repartition(col) lets AQE coalesce on
    // INPUT bytes, and the within-block pair fan-out below multiplies
    // rows ~blockSize/2× AFTER the exchange — measured at sf0.1, AQE
    // folded the 45k-record frame to ONE partition and ran the 765k
    // banded-levenshtein pairs on a single task (3.2 s serial vs 0.3 s
    // spread; OPTIMIZATION_r12.md, guide §2.5 input-vs-output sizing).
    val sized = preGuarded.getOrElse(recs.join(
      recs.groupBy("blk").agg(count(lit(1)).as("blk_n")), Seq("blk"))
      .where(col("blk_n") <= maxBlock))
      .repartition(workParallelism(recs.sparkSession), col("blk"))
    val a = sized.select(col("blk"), col("id").as("id_a"),
      col("norm").as("norm_a")).as("era")
    val b = sized.select(col("blk"), col("id").as("id_b"),
      col("norm").as("norm_b")).as("erb")
    val maxLen = greatest(length(col("norm_a")), length(col("norm_b")))
    a.join(b, col("era.blk") === col("erb.blk")
        && col("id_a") < col("id_b"))
      // implied-by-the-gate length prefilter: lev >= |len_a - len_b|,
      // so this never changes the result — it only skips distances
      .where(abs(length(col("norm_a")) - length(col("norm_b")))
        * lit(maxDistDen) <= maxLen * lit(maxDistNum))
      .withColumn("lv", levenshtein(col("norm_a"), col("norm_b"), cap))
      .where(col("lv") >= 0 &&
        col("lv") * lit(maxDistDen) <= maxLen * lit(maxDistNum))
      .select(col("era.blk").as("blk"), col("id_a"), col("id_b"))
  }

  /** Components of the within-block match graph: one groupByKey on the
    * block, union-find (path-halving, union-by-min so the root IS the
    * component min) over each block's edges. State per task is bounded
    * by the largest admitted block — the `maxBlock` guard's other job.
    * Output: (id, component). */
  private def blockComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("blk"), col("id_a").cast("long"),
        col("id_b").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, edges) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (_, x, y) =>
          parent.getOrElseUpdate(x, x)
          parent.getOrElseUpdate(y, y)
          val rx = find(x); val ry = find(y)
          // attach the larger root under the smaller: the overall min
          // is never attached under anyone, so root == component min
          if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
        }
        parent.keysIterator.map(x => (x, find(x))).toSeq
      }
      .toDF("id", "component")
  }

  /** (id, norm, blk) projection + the linkability filter. The normalize
    * regexp is computed ONCE per row behind a ComputeOnce barrier: the
    * former one-projection form re-inlined it at every reference (the
    * blk expression and each pushed-down linkability predicate re-ran
    * the regexp — 4+ evaluations per row; guide §4.4). */
  private def baseFrames(records: DataFrame, id: Column, name: Column,
                         block: Column => Column)
      : (DataFrame, DataFrame) = {
    val base = records
      .select(id.as("id"),
        graft.functions.ComputeOnce.once(normalizeName(name)).as("norm"))
      .withColumn("blk", block(col("norm")))
    val linkable = base.where(col("norm").isNotNull &&
      length(col("norm")) > 0 && col("blk").isNotNull)
    (base, linkable)
  }

  /** One-scalar probe: longest normalized name, or None if nothing is
    * linkable. */
  private def maxNormLen(linkable: DataFrame): Option[Int] = {
    val row = linkable.agg(max(length(col("norm")))).head()
    if (row.isNullAt(0)) None else Some(row.getInt(0))
  }

  /** Resolve records to entities. `block` is an expression over the
    * NORMALIZED name (exposed to it as `normalizeName(name)`); records
    * whose normalized name is null/empty resolve as themselves.
    * Output: (id, entity_id) — entity_id = min id of the matched
    * cluster, one row per input record. */
  def resolveEntities(records: DataFrame, id: Column, name: Column,
                      block: Column => Column,
                      maxDistNum: Int = 1, maxDistDen: Int = 8,
                      maxBlock: Int = 1000): DataFrame = {
    val (base, linkable) = baseFrames(records, id, name, block)
    resolveCore(base, linkable, maxNormLen(linkable), maxDistNum,
      maxDistDen, maxBlock)
  }

  /** The shared resolution core — takes the (base, linkable) frames and
    * the ALREADY-PROBED max normalized length, so callers that need the
    * probe themselves ([[persistEntityIndex]]'s empty-corpus refusal)
    * don't pay a second full normalize+aggregate scan. */
  private def resolveCore(base: DataFrame, linkable: DataFrame,
                          maxLenOpt: Option[Int], maxDistNum: Int,
                          maxDistDen: Int, maxBlock: Int): DataFrame = {
    require(maxDistNum >= 0 && maxDistDen > 0,
      s"resolveEntities: ratio $maxDistNum/$maxDistDen must be a " +
        "non-negative fraction")
    require(maxBlock >= 2,
      s"resolveEntities: maxBlock=$maxBlock cannot form any pair")
    val ids = base.select(col("id"))
    maxLenOpt match {
      case None =>
        // nothing linkable — everyone resolves as themselves
        ids.select(col("id"), col("id").as("entity_id"))
      case Some(maxLen) =>
        val cap = (maxLen.toLong * maxDistNum / maxDistDen).toInt
        val pairs = matchedPairs(linkable, maxDistNum, maxDistDen,
          maxBlock, cap)
        ids.join(blockComponents(pairs), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("component"), col("id")).as("entity_id"))
    }
  }

  /** Persist a resolved entity index — the record-linkage member of the
    * write-once index family (minhash `Dedup.persistIndex`, semantic
    * `Similarity.persistSemanticIndex`, passage, curation):
    *
    *  - `records/` — (id, norm, blk, entity_id): every LINKABLE record
    *    with its resolved entity (non-linkable records can never match
    *    a probe and are not stored);
    *  - `meta/`    — the match contract (max_dist_num, max_dist_den,
    *    max_block, max_norm_len), committed by
    *    [[graft.exec.Artifact.persist]]. Probes read the contract FROM
    *    meta, so build and probe can never gate differently.
    *
    * Later ingestion batches call [[probeEntityIndex]]: cost tracks the
    * batch, not the corpus. */
  def persistEntityIndex(records: DataFrame, id: Column, name: Column,
                         block: Column => Column, path: String,
                         maxDistNum: Int = 1, maxDistDen: Int = 8,
                         maxBlock: Int = 1000): Unit = {
    val spark = records.sparkSession
    val (_, linkable) = baseFrames(records, id, name, block)
    // loud refusal, not a torn artifact: an all-unlinkable corpus would
    // commit a records/ directory with no parquet data files, and every
    // later probe would die on schema inference against a "committed"
    // index (the gate handles this case by simply not bootstrapping)
    val maxLen = maxNormLen(linkable).getOrElse(throw
      new IllegalArgumentException("persistEntityIndex: no linkable " +
        "records (every name null/empty after normalization) — " +
        "refusing to commit an empty entity index"))
    // reuse the probe: re-deriving it inside resolveEntities would run
    // the full normalize+max scan a second time per index build
    val (base, _) = baseFrames(records, id, name, block)
    val resolved = resolveCore(base, linkable, Some(maxLen),
      maxDistNum, maxDistDen, maxBlock)
    // norm_len rides along so probes recover the corpus-wide maximum
    // (the banded-lev cap) from parquet FOOTER stats as the index
    // grows — meta is immutable, so a stored max would go stale the
    // first time a gate epoch admits a longer name. Partitioned under
    // ingest_batch = -1: the layout [[entityGateBatch]] appends its
    // epochs into, keeping every file at one directory depth.
    // A GATE-GROWN index (epoch partitions beyond the base) cannot be
    // re-bootstrapped in place: dynamic overwrite would rewrite only
    // ingest_batch=-1, leaving stale pre-merge assignments alive in
    // the epoch partitions under a fresh commit marker — refuse loudly
    // (the persistPcaModel "loud refusal, not a torn artifact" posture).
    val recDir = new org.apache.hadoop.fs.Path(s"$path/records")
    val recFs = Artifact.fs(spark, path)
    if (recFs.exists(recDir)) {
      val epochs = recFs.listStatus(recDir).map(_.getPath.getName)
        .filter(n => n.startsWith("ingest_batch=") &&
          n != "ingest_batch=-1")
      require(epochs.isEmpty,
        s"persistEntityIndex: $path holds gate epoch partitions " +
          s"(${epochs.take(3).mkString(", ")}) — a re-bootstrap would " +
          "leave their stale assignments under a fresh marker; delete " +
          "the index or build to a fresh path")
    }
    Artifact.persist(spark, path, metaRow(spark, maxDistNum, maxDistDen,
        maxBlock, maxLen)) {
      Artifact.writeEpoch(recordsFrame(linkable.join(resolved, Seq("id"))),
        -1L, s"$path/records")
    }
  }

  private def metaRow(spark: org.apache.spark.sql.SparkSession,
                      maxDistNum: Int, maxDistDen: Int, maxBlock: Int,
                      maxLen: Int): DataFrame = {
    import spark.implicits._
    Seq((maxDistNum, maxDistDen, maxBlock, maxLen))
      .toDF("max_dist_num", "max_dist_den", "max_block", "max_norm_len")
  }

  /** The records/ rows, shared by build and gate. */
  private def recordsFrame(assigned: DataFrame): DataFrame =
    assigned.select(col("id"), col("norm"), length(col("norm")).as("norm_len"),
      col("blk"), col("entity_id"))

  /** Probe a [[persistEntityIndex]] artifact with a new record batch:
    * assign every batch record an entity WITHOUT re-resolving the
    * corpus. Batch ids must be disjoint from corpus ids.
    *
    * Semantics (the exact contract the oracle mirrors):
    *  1. batch records normalize/block under the PERSISTED contract;
    *     blocks oversized on EITHER side (batch count or index count
    *     > max_block) are excluded from matching — the probe-side form
    *     of the build's guard (a hot index block would otherwise make
    *     probe cost corpus-shaped);
    *  2. batch-internal matches cluster via the same per-block
    *     union-find;
    *  3. each batch component adopts
    *     least(min matched corpus entity_id, component min batch id) —
    *     i.e. what a full re-resolution would assign the batch rows,
    *     with ONE-HOP corpus attachment. Deferred by design (the
    *     write-once posture shared by the whole index family): a batch
    *     that bridges two existing corpus entities does not rewrite
    *     them, and two batch components linked only THROUGH a shared
    *     corpus entity adopt that entity's id rather than each other's
    *     min. Both resolve on the periodic re-bootstrap, exactly like
    *     the ingest gates' re-index cadence.
    *
    * Output: (id, entity_id) — one row per batch record.
    *
    * `excludeEpoch` is the gate's replay hinge: a replayed epoch k must
    * not match against ITS OWN previously-committed records, so the
    * gate probes with the epoch-k partition excluded (the passage
    * gate's self-excluding index read). */
  def probeEntityIndex(batch: DataFrame, id: Column, name: Column,
                       block: Column => Column, path: String,
                       excludeEpoch: Option[Long] = None)
      : DataFrame = {
    val spark = batch.sparkSession
    val meta = Artifact.readMeta(spark, path)
    val (num, den, maxBlock) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val idxAll = spark.read.parquet(s"$path/records")
    val idx = excludeEpoch.fold(idxAll)(e =>
      idxAll.where(col("ingest_batch") =!= lit(e)))
    // corpus-side banded-lev cap from the skinny norm_len column —
    // parquet aggregate pushdown answers this from footers; meta's
    // build-time value would go stale as gate epochs admit longer names
    val idxMaxRow = idx.agg(max(col("norm_len"))).head()
    val idxMaxLen = if (idxMaxRow.isNullAt(0)) 0 else idxMaxRow.getInt(0)
    val (base, linkable) = baseFrames(batch, id, name, block)
    val ids = base.select(col("id"))
    maxNormLen(linkable) match {
      case None =>
        ids.select(col("id"), col("id").as("entity_id"))
      case Some(batchMaxLen) =>
        val cap =
          (math.max(batchMaxLen, idxMaxLen).toLong * num / den).toInt
        // both-side block guard, both histograms bounded by #blocks
        val okIdx = idx.groupBy("blk")
          .agg(count(lit(1)).as("idx_n"))
          .where(col("idx_n") <= maxBlock).select("blk")
        val guarded = linkable.join(
          linkable.groupBy("blk").agg(count(lit(1)).as("b_n")),
          Seq("blk")).where(col("b_n") <= maxBlock)
          .select("id", "norm", "blk")
        val maxLen = greatest(length(col("norm")), length(col("i_norm")))
        val matches = guarded
          .join(idx.join(okIdx, Seq("blk"))
            .select(col("blk"), col("norm").as("i_norm"),
              col("entity_id")), Seq("blk"))
          .where(abs(length(col("norm")) - length(col("i_norm")))
            * lit(den) <= maxLen * lit(num))
          .withColumn("lv", levenshtein(col("norm"), col("i_norm"), cap))
          .where(col("lv") >= 0 && col("lv") * lit(den)
            <= maxLen * lit(num))
          .groupBy(col("id")).agg(min(col("entity_id")).as("ext"))
        val pairs =
          matchedPairs(linkable, num, den, maxBlock, cap, Some(guarded))
        val assign = ids.join(blockComponents(pairs), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("component"), col("id")).as("comp"))
        val extPerComp = assign.join(matches, Seq("id"))
          .groupBy("comp").agg(min(col("ext")).as("comp_ext"))
        assign.join(extPerComp, Seq("comp"), "left")
          .select(col("id"),
            least(coalesce(col("comp_ext"), col("comp")), col("comp"))
              .as("entity_id"))
    }
  }

  /** Continuous entity resolution — the record-linkage member of the
    * ingest-gate family (minhash / semantic / passage / curation), as a
    * `foreachBatch((batch, epochId) => ...)` body. The bootstrap epoch
    * full-resolves the batch among itself; later epochs probe the index
    * ([[probeEntityIndex]] semantics): new records ADOPT matched
    * persisted entities (one-hop) or mint their batch component min as
    * a new entity id. Entities only ever grow, and accumulated deferred
    * merges resolve on the periodic re-bootstrap, the cadence the whole
    * gate family shares. Each epoch appends its linkable records to
    * `records/`.
    *
    * Writes, bootstrap and replay follow [[graft.exec.Artifact.gateEpoch]].
    * Index view: every epoch EXCEPT this one (`excludeEpoch = epochId`),
    * so a post-commit replay of epoch k assigns against exactly the
    * pre-k index state and rewrites its partition identically.
    *
    * Per-epoch cost tracks the batch: one batch resolution + one
    * blocked probe join; the only index-wide reads are the blk
    * histogram (#blocks-sized) and the footer-answerable max(norm_len).
    */
  def entityGateBatch(indexPath: String, idCol: String, nameCol: String,
                      block: Column => Column,
                      maxDistNum: Int = 1, maxDistDen: Int = 8,
                      maxBlock: Int = 1000)
                     (batch: DataFrame, epochId: Long): Unit = {
    val spark = batch.sparkSession
    // ONE baseFrames + ONE maxNormLen probe for the whole bootstrap
    // epoch (the resolution and the meta row share it): the initial
    // backfill is typically the largest batch the gate ever sees
    val (base, linkable) =
      baseFrames(batch, col(idCol), col(nameCol), block)
    lazy val bootMaxLen = maxNormLen(linkable)
    Artifact.gateEpoch(batch, epochId, "entityGateBatch",
        "probeEntityIndex", indexPath, Seq("records"))(
        "maxDistNum" -> maxDistNum, "maxDistDen" -> maxDistDen,
        "maxBlock" -> maxBlock)(
        metaRow(spark, maxDistNum, maxDistDen, maxBlock,
          bootMaxLen.getOrElse(0))) { bootstrap =>
      val assigned =
        if (bootstrap)
          resolveCore(base, linkable, bootMaxLen,
            maxDistNum, maxDistDen, maxBlock)
        else
          probeEntityIndex(batch, col(idCol), col(nameCol), block,
            indexPath, excludeEpoch = Some(epochId))
      // only linkable records are indexed (same as the batch build);
      // the lineage reads the records/ the epoch writes
      Seq(s"$indexPath/records" ->
        materialize(recordsFrame(linkable.join(assigned, Seq("id")))))
    }
  }
}
