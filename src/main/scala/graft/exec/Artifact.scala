package graft.exec

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

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
  *  - [[bootstrap]], for the streaming gates' first epoch: a partial
  *    `meta/` left by a crashed bootstrap is cleared, meta is written with
  *    `errorifexists` (a second bootstrap over committed meta fails
  *    loudly instead of changing the contract), then the marker. Later
  *    epochs never touch meta.
  *
  * Readers test commit evidence with one of two predicates: [[committed]]
  * (the marker) or [[committedOrLegacy]] (the marker, or the `_SUCCESS`
  * a Hadoop committer leaves — artifacts built before the marker existed
  * carry only that, and without the fallback an upgrade would
  * re-bootstrap and destroy them). `_SUCCESS` alone cannot be the rule:
  * it is never written under
  * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common on
  * object-store committers.
  *
  * Gate epochs land with [[writeEpoch]]: dynamic partition overwrite, so
  * a replayed epoch rewrites its own partitions and never touches
  * committed ones (at-least-once delivery × idempotent write =
  * exactly-once state).
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
    * partial `meta/`, write `meta` with `errorifexists`, then the
    * marker. */
  private[graft] def bootstrap(path: String, meta: DataFrame): Unit = {
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
    * needs its own epoch-partitioned one: a flat index built by a
    * `persist*` function is probe-only. Refused in the bootstrap path
    * too, where a gate would otherwise overwrite it. */
  private[graft] def requireEpochLayout(spark: SparkSession, dir: String,
                                        label: String,
                                        probe: String): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (f.exists(p))
      require(!f.listStatus(p).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")),
        s"$label: $dir is not epoch-partitioned (a persisted flat " +
          s"index?) — the gate requires its own gate-built layout; use " +
          s"$probe for one-shot probes")
  }
}
