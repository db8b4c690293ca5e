package graft.exec

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

import graft.exec.Exec.scoped

/** The one owner of the on-disk commit decision for persisted indexes,
  * models and gate tables.
  *
  * An artifact is a directory whose `meta/` holds one row of the
  * parameters its data was built with, committed by an empty
  * `meta/_GRAFT_COMMITTED` marker created LAST: data before meta before
  * marker, so a marker implies complete data. There are two write paths:
  *
  *  - [[persist]], for builders that may run again over the same path:
  *    `meta/` is RETRACTED first, then the caller's data writes run, then
  *    meta, then the marker. A crash anywhere in between leaves no meta,
  *    which every reader refuses — never an old meta or marker vouching
  *    for new, half-written data.
  *  - the streaming gates' epochs, [[gateEpoch]] for the gates that
  *    append a partition per epoch and [[snapshotEpoch]] for the ones
  *    that write a full versioned snapshot. Their first epoch commits
  *    meta once ([[bootstrap]]); later epochs never touch it.
  *
  * Readers test commit evidence with one of two predicates: [[committed]]
  * (the marker) or [[committedOrLegacy]] (the marker, or the `_SUCCESS`
  * a Hadoop committer leaves — artifacts built before the marker existed
  * carry only that, and without the fallback an upgrade would
  * re-bootstrap and destroy them). `_SUCCESS` alone cannot be the rule:
  * it is never written under
  * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common on
  * object-store committers.
  */
object Artifact {

  private val Marker = "_GRAFT_COMMITTED"
  private val Success = "_SUCCESS"

  /** The file system holding `path`. */
  private[graft] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `dir` holds the commit marker. */
  private[graft] def committed(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, Marker))

  /** `dir` holds the commit marker or a pre-marker committer `_SUCCESS`. */
  private[graft] def committedOrLegacy(spark: SparkSession,
                                       dir: String): Boolean = {
    val f = fs(spark, dir)
    f.exists(new Path(dir, Marker)) || f.exists(new Path(dir, Success))
  }

  /** Commit `dir`: create its marker. Must be the last write into it. */
  private[graft] def commit(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).create(new Path(dir, Marker), false).close()

  /** Refuse to read an artifact whose `meta/` carries no marker. */
  private[graft] def requireCommitted(spark: SparkSession, path: String,
                                      label: String): Unit =
    require(committed(spark, s"$path/meta"),
      s"$label at $path has no commit marker — torn or absent")

  /** Retract-then-commit persist: delete `meta/`, run the caller's data
    * writes, write `meta` (evaluated only after the data writes, so it
    * may read them), then the marker. */
  private[graft] def persist(spark: SparkSession, path: String,
                             meta: => DataFrame)(writeData: => Unit): Unit = {
    fs(spark, path).delete(new Path(s"$path/meta"), true)
    writeData
    meta.coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    commit(spark, s"$path/meta")
  }

  /** A gate's bootstrap commit, after its first data writes: clear a
    * partial `meta/`, write `meta` with `errorifexists` (a second
    * bootstrap over committed meta fails loudly instead of changing the
    * contract), then the marker. */
  private def bootstrap(path: String, meta: DataFrame): Unit = {
    val spark = meta.sparkSession
    fs(spark, path).delete(new Path(s"$path/meta"), true)
    meta.coalesce(1).write.mode("errorifexists").parquet(s"$path/meta")
    commit(spark, s"$path/meta")
  }

  /** The artifact's one meta row. */
  private[graft] def readMeta(spark: SparkSession, path: String): Row =
    spark.read.parquet(s"$path/meta").head()

  /** Require the leading columns of the meta row to equal `expected`, in
    * order, and return the row. `expected` pairs a display name with the
    * caller's value; the refusal names `label` and `op` (e.g. "passage
    * index", "probe requested"). */
  private[graft] def requireMeta(spark: SparkSession, path: String,
                                 label: String, op: String)
                                (expected: (String, Any)*): Row = {
    val row = readMeta(spark, path)
    val built = expected.indices.map(row.get)
    def show(vs: Seq[Any]): String = expected.map(_._1).zip(vs)
      .map { case (n, v) => s"$n=$v" }.mkString(", ")
    require(built == expected.map(_._2),
      s"$label at $path was built with (${show(built)}) but $op " +
        s"(${show(expected.map(_._2))})")
    row
  }

  /** Overwrite only the `partCol` partitions present in `df` under `dir`
    * (a per-write option, not a session-conf flip: concurrent writers on
    * the same session keep their own overwrite semantics). */
  private[graft] def overwritePartitions(df: DataFrame, partCol: String,
                                         dir: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)

  /** Write `df` as partition `ingest_batch = epoch` of `dir`. */
  private[graft] def writeEpoch(df: DataFrame, epoch: Long,
                                dir: String): Unit =
    overwritePartitions(df.withColumn("ingest_batch", lit(epoch)),
      "ingest_batch", dir)

  /** Refuse a FLAT layout (parquet files directly in `dir`) where a gate
    * needs its own epoch-partitioned one. */
  private def requireEpochLayout(spark: SparkSession, dir: String,
                                 gate: String, probe: String): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (f.exists(p))
      require(!f.listStatus(p).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")),
        s"$gate: $dir is not epoch-partitioned (a persisted flat " +
          s"index?) — the gate requires its own gate-built layout; use " +
          s"$probe for one-shot probes")
  }

  /** One epoch of an APPEND gate: a `*GateBatch` function that grows an
    * index under `indexPath` (and usually a corpus) by one partition
    * `ingest_batch = batchId` per microbatch. The gate supplies only its
    * algorithm, `epoch(bootstrap)`: it reads the index under its own
    * view rule (nothing at bootstrap), pins with `Exec.materialize`
    * every frame whose lineage reads a directory it writes, and returns
    * its writes as (dir, frame) in write order. This method owns the
    * rest:
    *
    *  1. an empty batch writes nothing;
    *  2. the epoch bootstraps iff `meta/` holds no commit evidence
    *     ([[committedOrLegacy]]: meta is written after every data write,
    *     so a meta its committer vouched for implies complete data);
    *  3. each epoch-partitioned index dir the gate writes (`dirs`, under
    *     `indexPath`) must not hold a FLAT layout: a `persist*` index is
    *     probe-only (`probe`), and with both layouts in one directory
    *     Spark's reader drops the flat rows — refused at bootstrap too,
    *     where the gate would otherwise bury the persisted index;
    *  4. past bootstrap, the leading meta columns must equal `params`;
    *  5. the writes run inside one `scoped` block, so the epoch's pins
    *     are released when it ends, each by dynamic partition overwrite,
    *     an empty frame skipped (an empty partitioned write leaves a
    *     schema-less dir no later read can infer);
    *  6. a bootstrap epoch commits `meta` and its marker only once every
    *     dir in `dirs` holds data, else the next epoch bootstraps again.
    *     `meta` is evaluated then, after the data writes, so it may land
    *     bootstrap-only files first.
    *
    * Exactly-once: Structured Streaming runs a `foreachBatch` body
    * at least once per epoch. A replay re-derives its writes from the
    * same batch and an index view that either excludes the epoch's own
    * partition or already rejects every row it admitted, so it rewrites
    * its own partitions and never touches committed ones; a crash before
    * the marker leaves `meta/` uncommitted and the replay bootstraps
    * again over the partial partitions. At-least-once replay ×
    * idempotent epoch write = exactly-once corpus and index state. */
  private[graft] def gateEpoch(batch: DataFrame, batchId: Long,
                               gate: String, probe: String,
                               indexPath: String, dirs: Seq[String])
                              (params: (String, Any)*)
                              (meta: => DataFrame)
                              (epoch: Boolean => Seq[(String, DataFrame)])
      : Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val bootstrapping = !committedOrLegacy(spark, s"$indexPath/meta")
    val indexDirs = dirs.map(d => s"$indexPath/$d")
    indexDirs.foreach(requireEpochLayout(spark, _, gate, probe))
    if (!bootstrapping && params.nonEmpty)
      requireMeta(spark, indexPath, s"$gate: index", "the gate requested")(
        params: _*)
    scoped {
      val landed = epoch(bootstrapping).filter(!_._2.isEmpty)
      landed.foreach { case (dir, df) => writeEpoch(df, batchId, dir) }
      if (bootstrapping && indexDirs.forall(landed.map(_._1).contains))
        bootstrap(indexPath, meta)
    }
  }

  /** One epoch of a versioned SNAPSHOT gate: `tableDir/v=<epoch>/` holds
    * the full state as of that epoch, committed by a marker inside the
    * version dir, created LAST, so a torn version is invisible to
    * readers. The gate supplies only `fold(base)`, the next state from
    * the newest committed version before `batchId` (an empty frame of
    * `emptySchema` when there is none). This method owns the rest: an
    * empty batch writes nothing; past bootstrap the leading meta columns
    * must equal `params`; the bootstrap commits `meta` with the epoch it
    * ran in appended as `bootstrap_epoch`.
    *
    * Exactly-once: the base read excludes the epoch's own version, so a
    * replayed epoch folds the same base with the same batch and
    * overwrites `v=<epoch>` identically. Nothing is appended: a snapshot
    * epoch replaces state, so versioning, not dynamic partition
    * overwrite, makes an at-least-once replay idempotent. */
  private[graft] def snapshotEpoch(batch: DataFrame, batchId: Long,
                                   tableDir: String, gate: String,
                                   emptySchema: StructType)
                                  (params: (String, Any)*)
                                  (meta: => DataFrame)
                                  (fold: DataFrame => DataFrame): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val bootstrapping = !committed(spark, s"$tableDir/meta")
    // the fold contract comes FROM meta: a caller that drifted from the
    // bootstrap's fails loudly instead of silently folding another table
    val bootstrapEpoch = if (bootstrapping) None else Some(metaBootstrapEpoch(
      requireMeta(spark, tableDir,
        s"$gate: the persisted contract of the table",
        "the caller gives")(params: _*)))
    val base = replayBaseVersion(committedVersions(spark, tableDir),
        batchId, bootstrapEpoch, gate) match {
      case Some(v) => spark.read.parquet(s"$tableDir/v=$v")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], emptySchema)
    }
    val vDir = s"$tableDir/v=$batchId"
    fold(base).write.mode("overwrite").parquet(vDir)
    if (bootstrapping)
      bootstrap(tableDir, meta.withColumn("bootstrap_epoch", lit(batchId)))
    commit(spark, vDir)
  }

  /** The committed snapshot versions under a [[snapshotEpoch]] table. */
  private[graft] def committedVersions(spark: SparkSession,
                                       tableDir: String): Seq[Long] = {
    val f = fs(spark, tableDir)
    val dir = new Path(tableDir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("v="))
      .filter(p => committed(spark, p.toString))
      .map(_.getName.stripPrefix("v=").toLong)
  }

  /** `bootstrap_epoch` off a snapshot gate's meta row, defaulting to 0
    * for tables persisted before the column existed (their bootstrap was
    * epoch 0 in every real stream). The column is appended LAST so
    * positional reads of the older columns stay valid. */
  private def metaBootstrapEpoch(row: Row): Long =
    row.schema.fieldNames.indexOf("bootstrap_epoch") match {
      case -1 => 0L
      case i => row.getLong(i)
    }

  /** The self-excluding base of snapshot epoch N: the newest committed
    * version < N. An EMPTY base is legitimate only when nothing is
    * committed yet (bootstrap, or a bootstrap-crash replay) or when the
    * epoch is at or before the recorded bootstrap epoch (the bootstrap
    * epoch's own at-least-once replay — no earlier version ever existed,
    * and leading EMPTY stream batches can push the bootstrap past epoch
    * 0, which is why the epoch is recorded in meta instead of assuming
    * 0). Any other empty base means compaction removed the replay's
    * base version, and folding the batch alone would silently drop all
    * accumulated state — refused loudly. */
  private def replayBaseVersion(committed: Seq[Long], batchId: Long,
                                bootstrapEpoch: Option[Long],
                                gate: String): Option[Long] = {
    val baseV = committed.filter(_ < batchId).sorted.lastOption
    require(baseV.nonEmpty || committed.isEmpty ||
        bootstrapEpoch.exists(batchId <= _),
      s"$gate: replay of epoch $batchId has no committed base version " +
        s"(surviving: ${committed.sorted.mkString(",")}) — compaction " +
        "removed the replay base; restore an older version or advance " +
        "the stream checkpoint past this epoch")
    baseV
  }
}
