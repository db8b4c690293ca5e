package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.battery._
import graft.operators.{Dedup, Enrich}

/** Driver contract (SURVEY.md §2/§7): one entry per implemented operator,
  * each paired with DuckDB-equivalent SQL in `oracleSql` so the driver's
  * hash compare verifies it at sf0.01. The entries live in per-family
  * registries (`graft.battery.*Queries`), each query beside its oracle;
  * `queries` and `oracleSql` are their union. A parameter that a query
  * and its generated oracle share is one constant of its family — two
  * independent literals would let the pair drift silently until a hash
  * mismatch.
  *
  * Float determinism policy (SURVEY.md §7.4.1): every SUM over parquet
  * doubles goes through an exact per-row DECIMAL cast (both engines round
  * the identical IEEE double to the same decimal), is summed exactly, and
  * is cast back to double — so aggregation order can never flip a bit.
  * AVGs are computed as exact-decimal-sum / count in double. Plain double
  * passthroughs and per-row double arithmetic are bit-identical across
  * engines by IEEE-754 determinism.
  *
  * Every query ends in an orderBy on a unique key: the Verify dump is then
  * deterministic, and Catalyst's EliminateSorts removes the sort under
  * Bench's count() action so it costs nothing in the benchmark.
  */
object SparkEntry {

  // ---- shared helpers -----------------------------------------------------

  /** Exact 2-decimal cast for money-like doubles (see determinism note). */
  private[graft] def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact cast for products of 2-decimal values (4-6 decimals). */
  private[graft] def dec6(c: Column): Column = c.cast("decimal(28,6)")

  /** ScholarMind-shaped bibliographic records simulated over `documents`:
    * source_type = source, dedup key = 50-char prefix of the canonical
    * text (the corpus plants prefix-sharing near-dups), priority derived
    * from the source id (reference priority map shape, `main.py:113-114`).
    */
  private[graft] def bibRecords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("source_type", col("source"))
      .withColumn("key",
        substring(Dedup.normalizeText(col("text")), 1, 50))
      .withColumn("priority",
        regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 3)

  private[graft] val bibRecordsSql =
    """SELECT doc_id, n_chars, lang, source AS source_type,
      |       substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 50) AS key,
      |       CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 3 AS priority
      |FROM documents""".stripMargin

  /** DuckDB mirror of Dedup.normalizeText. */
  private[graft] val normTextSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** DuckDB mirror of `Similarity.wellFormed` over an `embedding`
    * column: present and free of null elements. */
  private[graft] val wellFormedSql =
    "embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0"

  /** Exact cosine of list columns `u` and `v` in DuckDB SQL: the
    * index-ordered dot over `n` elements (default `len(u)`) divided by
    * the product of the norms, NULL when a norm is 0 — the fold order
    * the engine's fused dot runs. */
  private[graft] def cosSql(u: String, v: String, n: String = ""): String =
    s"""list_sum(list_transform(range(1, ${if (n.isEmpty) s"len($u)" else n} + 1),
       |  i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)))
       |/ nullif(
       |  sqrt(list_sum(list_transform($u, x -> CAST(x AS DOUBLE) * x)))
       |  * sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * x))),
       |  0)""".stripMargin

  /** Shared window-2 co-occurrence pair CTEs (q_text_cooccur and the
    * q_graph_triangles word graph): positioned tokens via range() + list
    * indexing, pairs via the position-band self-join, least/greatest
    * orientation. */
  private[graft] val cooccurPairCtes =
    s"""nrm AS (SELECT doc_id, string_split($normTextSql, ' ') AS arr
       |             FROM documents),
       |tok AS (SELECT doc_id, i, arr[i] AS word
       |        FROM nrm, unnest(range(1, len(arr) + 1)) AS t(i)
       |        WHERE length(arr[i]) > 0),
       |pr AS (SELECT least(a.word, b.word) AS w1,
       |         greatest(a.word, b.word) AS w2, count(*) AS n_pair
       |       FROM tok a JOIN tok b
       |         ON a.doc_id = b.doc_id AND b.i BETWEEN a.i + 1 AND a.i + 2
       |       GROUP BY 1, 2)""".stripMargin

  /** DuckDB mirror of the engine's md5-hex-prefix integer draw
    * (`conv(substr(h, 1, chars), 16, 10)`) — base-16 expansion per char
    * with instr, the q_train_shuffle trick, factored out because the
    * importance oracles need 4- AND 8-char prefixes. */
  private[graft] def hexPrefixSql(h: String, chars: Int): String =
    (1 to chars).map { i =>
      val mult = (0 until (chars - i)).foldLeft(1L)((a, _) => a * 16L)
      val digit = s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)"
      if (mult == 1L) digit else s"$digit * $mult"
    }.mkString(" + ")

  /** The checkout's `fixtures/` directory (the working directory is the
    * repository root under sbt), input of the source-parser queries. */
  private[graft] val fixturesDir: String =
    java.nio.file.Paths.get("fixtures").toAbsolutePath.toString

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  /** The reference's relational core in one query (SURVEY.md §7.2 M0):
    * scan → normalize key → priority dedup (A3) → stub-metrics keyed-memo
    * enrichment (X1) → grouped aggregate (A2). */
  private[graft] def flagship(s: SparkSession, dir: String): DataFrame = {
    // journalMetrics' typed mapPartitions consumes every input column, so
    // project to the columns read here or `text` rides every exchange
    val records = bibRecords(s, dir).select("doc_id", "n_chars", "lang",
      "source_type", "key", "priority")
    val deduped = Dedup.priorityDedup(
      records, col("key"), col("priority"), col("doc_id"))
    val enriched =
      Enrich.journalMetrics(deduped, "lang", Enrich.StubMetricsClient)
    enriched.groupBy("source_type")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(dec6(col("impact_factor"))).cast("double") / count(lit(1)))
          .as("avg_if"),
        min(col("quartile")).as("min_quartile"))
      .orderBy("source_type")
  }

  // ---- the query battery --------------------------------------------------

  /** One battery query: its Spark body and the DuckDB SQL the driver
    * hash-compares it against (none for a rows-only query). */
  final class Query private (val name: String,
      val run: (SparkSession, String) => DataFrame,
      val oracle: Option[String])
  object Query {
    def apply(name: String, run: (SparkSession, String) => DataFrame,
              oracle: String): Query = new Query(name, run, Some(oracle))
    def rowsOnly(name: String,
                 run: (SparkSession, String) => DataFrame): Query =
      new Query(name, run, None)
  }

  private def families: Seq[Seq[Query]] = Seq(RelationalQueries.entries,
    DedupQueries.entries, TextQueries.entries, EntityQueries.entries,
    GraphQueries.entries, SketchQueries.entries, EventsQueries.entries,
    PipelineQueries.entries, ClassifyQueries.entries, EmbedQueries.entries)

  /** The families' entries as one map. A name defined twice fails here
    * and is named, where `++` would silently keep the last. */
  private[graft] def union[V](families: Seq[Iterable[(String, V)]]): Map[String, V] = {
    val twice = families.flatten.groupBy(_._1).collect {
      case (name, defs) if defs.size > 1 => name }
    require(twice.isEmpty,
      s"battery query defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    families.flatten.toMap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    union(families.map(_.map(q => q.name -> q.run)))

  def oracleSql: Map[String, String] =
    union(families.map(_.flatMap(q => q.oracle.map(q.name -> _))))
}
