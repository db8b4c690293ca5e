package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for the near-dup pipelines (run with
  * `sbt "Test/runMain graft.tools.Prof [sfDir]"`). Times each stage of the
  * MinHash+LSH pipeline in isolation so regressions can be attributed to a
  * stage rather than guessed at from the end-to-end number.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documents(spark, dir)
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"PROF $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    t("docs")(docs.count())
    val posted = docs.select(col("doc_id").as("id"), col("text"))
      .repartition(32)
      .select(col("id"), posexplode(
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
        .as(Seq("pos", "word")))
    t("posted")(posted.count())
    val ordered = Window.partitionBy("id").orderBy("pos")
    val perDoc = Window.partitionBy("id")
    val sh = posted.withColumn("n_words", count(lit(1)).over(perDoc))
      .withColumn("shingle", concat_ws(" ", col("word"),
        lead(col("word"), 1).over(ordered), lead(col("word"), 2).over(ordered)))
      .where((col("n_words") >= 3 && col("pos") <= col("n_words") - 3) ||
        (col("n_words") < 3 && col("pos") === 0))
      .groupBy("id", "shingle").agg(first(lit(1)))
      .select("id", "shingle")
    t("postings_distinct")(sh.count())
    // base-hash scheme, matching the production minhashLshPairs: hash the
    // shingle string once, re-seed the 64-bit base per permutation
    val hashed = sh
      .select(col("id"), xxhash64(col("shingle")).as("base"))
      .select(col("id") +:
        (0 until 128).map(j => xxhash64(col("base"), lit(j)).as(s"h$j")): _*)
    val mins = hashed.groupBy("id").agg(min(col("h0")).as("m0"),
      (1 until 128).map(j => min(col(s"h$j")).as(s"m$j")): _*)
    t("mins128")(mins.count())
    val banded = mins.select(col("id"), posexplode(array((0 until 32).map { b =>
      xxhash64(concat_ws(",", (0 until 4).map(i => col(s"m${b * 4 + i}")): _*))
    }: _*)).as(Seq("band_idx", "band_hash")))
    val cand = banded.as("a").join(banded.as("b"),
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    t("cand")(cand.count())
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, col("doc_id"),
      col("text"), 0.6, 3, 128, 32)
    t("full_pairs")(pairs.count())
    t("full_pairs_again")(pairs.count())
    val surv = graft.operators.Dedup.nearDupSurvivors(docs, col("doc_id"), pairs)
    t("survivors")(surv.count())
    spark.stop()
  }
}
