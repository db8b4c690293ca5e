package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.exec.Exec.{materialize, scoped, sequentialSumByKey,
  workParallelism}

/** Text-analysis functions for training-data pipelines (BASELINE.json
  * extensions): token counting, quality scoring, language-ID heuristic,
  * content fingerprinting. All pure Catalyst expressions — codegen'd,
  * shuffle-free, linear scans that hold at 100 TB.
  */
object TextAnalysis {

  /** Whitespace-collapse + lowercase canonical form (shared with Dedup). */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(split(trim(c), "\\s+")))

  /** TF-IDF top-k characteristic terms per document, over the normalized
    * token stream. Scoring uses the LINEAR idf variant: score = tf / df,
    * which is rank-equivalent to tf · (N/df) (N, the corpus size, is
    * constant) — chosen because one IEEE-754 division is bit-identical
    * on every engine, so a DuckDB oracle can hash the score itself
    * (ln-damped idf rides on libm and is not reproducible to the bit
    * across engines; swapping `log` into the score expression is one
    * line if damping matters more than exact replay).
    *
    * Scale: tokens explode → (doc, term) partial+final count (shuffle
    * keys doc×term, high cardinality) → df as a COUNT WINDOW over the
    * tf frame keyed on term (one shuffle; the aggregate+join-back form
    * costs two more exchanges for the same rows) → per-doc top-k
    * through a rank window (WindowGroupLimit pushes the k-filter into
    * a partial top-k before the window shuffle, same plan the
    * stratified sample pins — 3 exchanges total, plan-audited). No step
    * is all-pairs; the widest frame is the distinct (doc, term) matrix.
    *
    * Output: (doc_id, rank, tok, tf, df, score), rank 1..k by
    * (score desc, tok asc). */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, id: Column,
                text: Column, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(id.as("doc_id"),
      explode(split(normText(text), " ")).as("tok"))
      // an empty/whitespace-only doc splits to [""] — without the
      // filter the empty string becomes a "term" whose df counts every
      // empty doc (tfidfCosineTopK applies the same guard)
      .where(length(col("tok")) > 0)
    val tf = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val wRank = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
        col("df"), col("score"))
  }

  /** Sparse TF-IDF cosine similarity, top-k neighbors per document —
    * the LEXICAL nearest-neighbor tier between set-overlap (jaccard/
    * minhash: unweighted) and dense embeddings (`Similarity`): shared
    * RARE terms dominate, shared stopwords barely count.
    *
    * Weights are the engine-exact linear idf w = tf/df (one IEEE
    * division; cosine is invariant to classic idf's global N factor
    * mathematically, and this form needs no log). Terms with
    * df > maxDf are EXCLUDED from similarity — the deterministic
    * stopword cap, the same hub discipline as `Dedup.jaccardPairs`'
    * inverted-index maxDf: candidate volume is Σ df² over kept terms,
    * so the cap is what bounds the posting self-join at corpus scale
    * (a term in every document is the classic quadratic bomb AND
    * carries no similarity signal). Dot products and norms are
    * term-ordered folds (`aggregate(array_sort(...))` ≙ DuckDB
    * `list_sum(list(x ORDER BY tok))`) and sqrt is correctly rounded,
    * so the raw cosine doubles hash-match across engines.
    *
    * Output: (doc_a, doc_b, cos, rank) — both directions emitted, rank
    * 1..k per doc_a by (cos desc, doc_b asc); docs sharing no kept
    * term never pair. */
  def tfidfCosineTopK(docs: org.apache.spark.sql.DataFrame, id: Column,
                      text: Column, k: Int, maxDf: Long = 1000L)
      : org.apache.spark.sql.DataFrame = scoped {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"tfidfCosineTopK: k=$k")
    require(maxDf >= 1, s"tfidfCosineTopK: maxDf=$maxDf")
    val tf = docs
      .select(id.as("doc_id"), explode(split(normText(text), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // materialized: the weighted-postings frame feeds norms AND both
    // sides of the posting self-join — unmaterialized, the corpus
    // scan + tokenize + df-window subtree runs once per consumer (the
    // windowCooccur lesson; it escapes with the lazy result)
    val w = materialize(tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .where(col("df") <= maxDf)
      .withColumn("w", col("tf").cast("double") / col("df"))
      .select("doc_id", "tok", "w"))
    // both deterministic tok-ordered folds route through
    // sequentialSumByKey (identical struct-sort-fold, value-identical)
    // for its pinned keyed spread, and the posting self-join's exchange
    // pins an explicit count: its input is postings-sized but its output
    // fans out per shared token, which AQE's byte-based sizing cannot
    // see — the pair generation and fold ran on ONE coalesced task
    // (1.5 s of q_text_simdocs' 2.3 s at sf0.1, r12; guide §2.5)
    val norms = sequentialSumByKey(
        w.select(col("doc_id"), col("tok"),
          (col("w") * col("w")).as("w2")),
        Seq("doc_id"), "tok", "w2")
      .select(col("doc_id"), sqrt(col("__sum")).as("nrm"))
    val wp = w.repartition(
      workParallelism(w.sparkSession), col("tok"))
    val dots = sequentialSumByKey(
        wp.as("tx")
          .join(wp.as("ty"), col("tx.tok") === col("ty.tok")
            && col("tx.doc_id") < col("ty.doc_id"))
          .select(col("tx.doc_id").as("a"), col("ty.doc_id").as("b"),
            col("tx.tok").as("tok"),
            (col("tx.w") * col("ty.w")).as("p")),
        Seq("a", "b"), "tok", "p")
      .select(col("a"), col("b"), col("__sum").as("dot"))
    val cos = dots
      .join(norms.select(col("doc_id").as("a"), col("nrm").as("na")),
        Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nrm").as("nb")),
        Seq("b"))
      .select(col("a"), col("b"),
        (col("dot") / (col("na") * col("nb"))).as("cos"))
    val sym = cos.select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("cos"))
      .unionAll(cos.select(col("b").as("doc_a"), col("a").as("doc_b"),
        col("cos")))
    sym
      .withColumn("rank", row_number().over(Window.partitionBy("doc_a")
        .orderBy(col("cos").desc, col("doc_b").asc)))
      .where(col("rank") <= k)
  }

  /** BPE-ish subword token count: word chunks, numbers, and individual
    * punctuation marks — the classic GPT-2 pre-tokenizer shape, counted
    * with a codegen'd regex (no tokenizer library needed for counting). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Mean word length over whitespace tokens (double; exact rational).
    * Null (not an ANSI DIVIDE_BY_ZERO crash) for empty/whitespace-only
    * text: the denominator is nullif-guarded, which DuckDB mirrors
    * exactly with `x / nullif(cnt, 0)`. */
  def avgWordLen(c: Column): Column = {
    val t = trim(c)
    (length(regexp_replace(t, "\\s+", "")).cast("double") /
      nullif(wsTokenCount(c), lit(0)).cast("double"))
  }

  /** Ratio of stopword tokens (small embedded English list — the quality
    * signal used by C4/Gopher-style filters). */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
        "on", "for", "with", "as", "at", "by", "this", "that")

  def stopwordRatio(c: Column): Column = {
    val toks = split(normText(c), " ")
    size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double") /
      nullif(size(toks), lit(0)).cast("double")
  }

  /** Punctuation-to-character ratio; null for empty text (nullif guard —
    * ANSI-safe, DuckDB-parity via the same nullif). */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[^A-Za-z0-9\\s]", "")))
      .cast("double") / nullif(length(c), lit(0)).cast("double")

  /** Composite quality score in [0,1]: Gopher-ish rules folded into one
    * deterministic expression (long enough, not punctuation-soup, has
    * stopwords, sane mean word length). Exact rational arithmetic on
    * counts, so engine-portable bit-for-bit. */
  def qualityScore(c: Column): Column = {
    val lenOk   = when(length(c) >= 100 && length(c) <= 20000, 0.25).otherwise(0.0)
    val punctOk = when(punctRatio(c) <= 0.2, 0.25).otherwise(0.0)
    val stopOk  = when(stopwordRatio(c) >= 0.01, 0.25).otherwise(0.0)
    // between() expands to the same two avgWordLen subtrees, but
    // whole-stage codegen's subexpression elimination collapses
    // duplicates WITHIN one projection — the langIdFrame caveat is
    // about duplication ACROSS projections (CollapseProject), where
    // CSE cannot reach. Plan-checked: one tokenization per row.
    val wordOk  = when(avgWordLen(c).between(2.0, 12.0), 0.25)
      .otherwise(0.0)
    lenOk + punctOk + stopOk + wordOk
  }

  /** Language-ID heuristic: score text against per-language marker-word
    * lists (top function words per language), predict the argmax, 'und' if
    * nothing matches. N-gram-free variant of the classic stopword profiler
    * — linear scan, no shuffle. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "that"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por"),
    "fr" -> Seq("le", "la", "les", "des", "une", "est", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我"))

  def langScore(c: Column, lang: String): Column = {
    val toks = split(normText(c), " ")
    size(filter(toks, t => t.isin(langMarkers(lang).map(lit): _*)))
  }

  /** Relational language-ID over a whole frame: explode tokens ONCE (a
    * generator evaluates its split() input once per row), score all
    * languages with conditional aggregates in a single codegen'd pass,
    * then pick the argmax with a CASE chain over plain attributes.
    *
    * Prefer this for datasets; the scalar `langId` column below evaluates
    * the token split once per language score (expression-tree duplication
    * — CollapseProject inlines common subexpressions), which is fine for
    * a handful of rows and pathological for millions.
    *
    * Returns the input keyed by `idCol` plus a `pred` column. Ties break
    * toward the alphabetically-first language; no hits → 'und'.
    */
  def langIdFrame(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val langs = langMarkers.keys.toSeq.sorted
    val toks = df.select(col(idCol),
      explode(split(normText(col(textCol)), " ")).as("tok"))
    val scored = toks.groupBy(idCol).agg(
      sum(when(col("tok").isin(langMarkers(langs.head).map(lit): _*), 1)
        .otherwise(0)).as(s"s_${langs.head}"),
      langs.tail.map(l =>
        sum(when(col("tok").isin(langMarkers(l).map(lit): _*), 1)
          .otherwise(0)).as(s"s_$l")): _*)
    // NULL-text rows produce no exploded tokens and would silently vanish
    // from the aggregate — re-attach every input id with a left join and
    // score missing rows 0 so they classify as 'und', not as lost rows
    val base = df.select(col(idCol)).distinct()
    val rejoined = base.join(scored, Seq(idCol), "left")
      .na.fill(0, langs.map(l => s"s_$l"))
    val g = greatest(langs.map(l => col(s"s_$l")): _*)
    val pred = langs.foldLeft(when(g === 0, "und")) { (acc, l) =>
      acc.when(col(s"s_$l") === g, l)
    }
    rejoined.select(col(idCol), pred.as("pred"))
  }

  /** Predicted language: argmax of marker-word hit counts, ties broken by
    * language code order, 'und' when all scores are zero. */
  def langId(c: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    val best = langs.map(l => struct(langScore(c, l).as("score"),
      lit(l).as("lang"))).reduce((a, b) =>
        when(b.getField("score") > a.getField("score"), b).otherwise(a))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** PII-shaped pattern counts (emails, phone-like digit runs, IPv4) —
    * the redaction-triage signal of a training-data pipeline. Counting
    * only (redaction = regexp_replace with the same patterns); all
    * codegen'd regex, no UDFs. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?\\d[\\d -]{7,}\\d"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiCounts(c: Column): (Column, Column, Column) = (
    size(regexp_extract_all(c, lit(emailPattern), lit(0))),
    size(regexp_extract_all(c, lit(phonePattern), lit(0))),
    size(regexp_extract_all(c, lit(ipv4Pattern), lit(0))))

  /** PII redaction: replace matches with typed tags. Order matters for
    * safety, not correctness here — emails first (their local part may
    * contain digit runs), then IPs (dots keep them out of the phone
    * charset), then phones. Global replace, same regexes as the counts,
    * all codegen'd. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Content fingerprint: md5 of the canonical form — the exact-dedup key.
    * (md5 hex output is identical across Spark and the DuckDB oracle.) */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Overlapping fixed-size character chunking (RAG / context-window shard
    * prep): chunks of `chunkChars` starting every `strideChars` (overlap =
    * chunkChars − strideChars), last chunks run short rather than padding.
    * Output: one row per chunk — (idCol, chunk_idx, chunk_start 0-based,
    * chunk_text). Chunk identity (id, chunk_idx) is deterministic, so
    * downstream span-dedup / embedding stages key on it stably across
    * re-runs.
    *
    * Scale: a narrow projection + generator — NO shuffle, no state; the
    * explode multiplies rows by ceil(len/stride) locally, so output
    * partitioning inherits the scan's. Empty/short docs yield exactly one
    * chunk (possibly empty) rather than zero, preserving doc coverage
    * invariants for downstream joins; NULL text likewise yields one
    * chunk with NULL chunk_text (the coalesce pins this — without it
    * Spark's null-skipping greatest() would keep the row while a
    * null-propagating engine's oracle would drop it). */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, chunkChars: Int,
                strideChars: Int): org.apache.spark.sql.DataFrame = {
    require(chunkChars > 0 && strideChars > 0 && strideChars <= chunkChars,
      s"chunkDocs: chunkChars=$chunkChars strideChars=$strideChars")
    df.select(col(idCol), col(textCol).as("t"))
      .select(col(idCol),
        posexplode(sequence(lit(0),
          greatest(coalesce(length(col("t")), lit(0)) - 1, lit(0)),
          lit(strideChars)))
          .as(Seq("chunk_idx", "chunk_start")),
        col("t"))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        col("t").substr(col("chunk_start") + 1, lit(chunkChars))
          .as("chunk_text"))
  }

  /** Gopher-style quality rule pack (Rae et al. 2021 §A1.1 shape, bounds
    * tuned to the corpus at hand): per-document boolean flags plus the
    * conjunctive `pass` gate. All pure codegen'd expressions — one linear
    * scan, no shuffle, no UDFs. Rules:
    *   r_word_count    word count within [minWords, maxWords]
    *   r_avg_word_len  mean word length within [minAvgWordLen,
    *                   maxAvgWordLen] (Gopher's published bound is [3,10];
    *                   corpora of atypical word shape tighten it)
    *   r_symbol_ratio  (# + …) chars per word < 0.1
    *   r_bullet_lines  < 90% of lines start with a bullet ('-' / '•')
    *   r_ellipsis_lines< 30% of lines end with '...'
    *   r_alpha_words   ≥ 80% of words contain a letter
    *   r_stopwords     ≥ 2 distinct stopwords present (Gopher's "stop
    *                   word" natural-language evidence rule)
    */
  def gopherFlags(text: Column, minWords: Int = 20, maxWords: Int = 90,
                  minAvgWordLen: Double = 3.0,
                  maxAvgWordLen: Double = 10.0): Seq[(String, Column)] = {
    val words = split(trim(text), "\\s+")
    val nWords = when(length(trim(text)) === 0, 0).otherwise(size(words))
    val lines = split(text, "\n")
    val nLines = size(lines)
    // nullif guard: on empty text the mean is NULL on both engines
    // (Spark would otherwise produce NaN where DuckDB produces NULL,
    // silently diverging the flag's three-valued logic)
    val awl = aggregate(words, lit(0.0),
      (acc, w) => acc + length(w).cast("double")) /
      nullif(nWords.cast("double"), lit(0.0))
    val nSym = length(text) - length(regexp_replace(text, "[#…]", ""))
    val nBullet = size(filter(lines,
      l => l.startsWith("-") || l.startsWith("•")))
    val nEllipsis = size(filter(lines, l => l.endsWith("...")))
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]")))
    val nStop = size(array_intersect(
      array_distinct(split(lower(trim(text)), "\\s+")),
      array(stopwords.map(lit): _*)))
    Seq(
      "r_word_count" -> (nWords >= minWords && nWords <= maxWords),
      "r_avg_word_len" -> (awl >= minAvgWordLen && awl <= maxAvgWordLen),
      "r_symbol_ratio" ->
        (nSym.cast("double") / nullif(nWords.cast("double"), lit(0.0)) < 0.1),
      "r_bullet_lines" ->
        (nBullet.cast("double") / nLines.cast("double") < 0.9),
      "r_ellipsis_lines" ->
        (nEllipsis.cast("double") / nLines.cast("double") < 0.3),
      "r_alpha_words" ->
        (nAlpha.cast("double") / nullif(nWords.cast("double"), lit(0.0))
          >= 0.8),
      "r_stopwords" -> (nStop >= 2))
  }
}
