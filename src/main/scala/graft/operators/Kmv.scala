package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec.{keyGroups, keyPairs}

/** K-minimum-values signatures (Bar-Yossef et al. 2002; Beyer et al.
  * 2007's distinct-estimate form) for CROSS-SOURCE set comparison — the
  * corpus-audit question "how much vocabulary do these ingest sources
  * share?" answered from k-row sketches instead of a full token-set
  * join. A source's signature is the k lexicographically-smallest
  * md5(token) values of its DISTINCT tokens: a uniform bottom-k sample
  * of the hashed set, so (a) the union's signature is the k smallest of
  * the two signatures' union — MERGEABLE, and (b) the fraction of the
  * union-signature present in both sources is an unbiased Jaccard
  * estimate with error ~1/√k (Broder's minhash argument on bottom-k).
  *
  * Everything is the engine-standard md5 discipline — no RNG, no
  * library sketch state — so signatures, estimates and the honesty
  * columns are bit-identical across engines and sit under the hash
  * oracle. A source with fewer than k distinct tokens keeps its WHOLE
  * hashed set (the sketch degenerates to exact, by construction).
  *
  * Scale: the signature build is `row_number ≤ k` over a source-keyed
  * window — WindowGroupLimit pushes the top-k into each input partition
  * before the shuffle, so a source ships k rows per partition, never
  * its vocabulary; the pairwise stage touches only |sources|²·k
  * signature rows. The exact-Jaccard columns are the test-scale honesty
  * readout (the overcount-column convention); at 100 TB you run the
  * signatures alone.
  */
object Kmv {

  /** (source, tok, h) signature rows — the k smallest distinct token
    * hashes per source, ties broken by token. */
  def sourceSignatures(docs: DataFrame, source: Column, text: Column,
                       k: Int): DataFrame = {
    require(k >= 2, s"sourceSignatures: k=$k must be >= 2")
    val w = Window.partitionBy("source").orderBy(col("h"), col("tok"))
    sourceTokens(docs, source, text).withColumn("h", md5(col("tok")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("source"), col("tok"), col("h"))
  }

  /** Pairwise source overlap (src_a < src_b): bottom-k Jaccard estimate
    * next to the exact one. For each pair the union signature is
    * re-ranked from the two sources' signatures (the mergeable-sketch
    * union), k_used = its size (min(k, |union sketch|)), and
    * n_inter = members present in BOTH signatures; jaccard_est =
    * n_inter / k_used is the one IEEE division. Exact columns come from
    * the full distinct token sets, paired by the
    * [[graft.exec.Exec.keyGroups]] pair generator keyed on the token. */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column,
                    k: Int): DataFrame = {
    require(k >= 2, s"sourceOverlap: k=$k must be >= 2")
    val sig = sourceSignatures(docs, source, text, k)
    val srcs = sig.select("source").distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")),
        col("src_a") < col("src_b"))
    // per-pair union of the two signatures, collapsed per token with
    // presence flags, re-ranked by hash — the merged sketch
    val members = broadcast(pairs)
      .join(sig, col("source") === col("src_a") ||
        col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("tok"), col("h"))
      .agg(max(when(col("source") === col("src_a"), 1).otherwise(0))
        .as("in_a"),
        max(when(col("source") === col("src_b"), 1).otherwise(0))
        .as("in_b"))
    val wp = Window.partitionBy(col("src_a"), col("src_b"))
      .orderBy(col("h"), col("tok"))
    val est = members.withColumn("rank", row_number().over(wp))
      .where(col("rank") <= k)
      .groupBy("src_a", "src_b")
      .agg(max(col("rank")).as("k_used"),
        sum(col("in_a") * col("in_b")).as("n_inter"))
      .withColumn("jaccard_est",
        col("n_inter").cast("double") / col("k_used").cast("double"))
    // exact honesty columns from the full distinct token sets
    val toks = sourceTokens(docs, source, text)
    val counts = toks.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = keyPairs(keyGroups(toks, Seq("tok"), "source"),
        Seq("tok"), "source")
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    est
      .join(counts.select(col("source").as("src_a"), col("n").as("na")),
        Seq("src_a"))
      .join(counts.select(col("source").as("src_b"), col("n").as("nb")),
        Seq("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("k_used").cast("long").as("k_used"), col("n_inter"),
        col("jaccard_est"),
        coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"),
        (col("na") + col("nb") -
          coalesce(col("n_inter_exact"), lit(0L))).as("n_union_exact"),
        (coalesce(col("n_inter_exact"), lit(0L)).cast("double") /
          (col("na") + col("nb") -
            coalesce(col("n_inter_exact"), lit(0L))).cast("double"))
          .as("jaccard_exact"))
  }

  /** Distinct (source, tok) rows over the normalized token stream. */
  private def sourceTokens(docs: DataFrame, source: Column,
                           text: Column): DataFrame =
    docs.select(source.cast("string").as("source"),
        explode(split(graft.functions.TextAnalysis.normText(text), " "))
          .as("tok"))
      .where(length(col("tok")) > 0)
      .distinct()
}
