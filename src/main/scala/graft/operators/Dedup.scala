package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Artifact
import graft.exec.Exec.{advance, keyGroups, keyPairs, materialize, release,
  scoped, spread, spreadBy, workParallelism}
import graft.functions.Normalize

/** Deduplication operators.
  *
  * 1. `priorityDedup` — the reference's DOI dedup (`main.py:101-166`): keep
  *    one row per non-null key, preferring the highest source priority;
  *    null/empty keys are always kept (`main.py:121`).
  * 2. LLM-training-pipeline near-dup family (extensions mandated by
  *    BASELINE.json): exact content hash, shingle-Jaccard via inverted
  *    index, MinHash+LSH, SimHash banding, embedding cosine.
  *
  * 100 TB design notes, per operator, inline below.
  */
object Dedup {

  /** Keep-first-per-key with priority (reference `main.py:101-166`).
    *
    * Spark-first shape: ONE `row_number()` window over one read of `df`,
    * ordered by (priority desc, tiebreak asc). The reference's pandas sort
    * is non-stable so its tie order is unspecified (SURVEY.md §7.4.2); we
    * fix a total order with an explicit tiebreak column.
    *
    * Scale: at 100 TB the null/empty-key population is the single hottest
    * key, so keyless rows are partitioned by the tiebreak instead (spread
    * across reducers) and all kept (`main.py:121`), even when they share
    * one. Trade: `|| keyless` is no rank limit, so Catalyst plans no
    * partial `WindowGroupLimit` below the exchange; a keyed ∪ keyless
    * union kept it but scanned and parsed `df` twice.
    */
  def priorityDedup(df: DataFrame, key: Column, priority: Column,
                    tiebreak: Column): DataFrame = {
    val keyless = key.isNull || key === ""
    val w = Window
      .partitionBy(when(keyless, null).otherwise(key), when(keyless, tiebreak))
      .orderBy(priority.desc, tiebreak.asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 || keyless)
      .drop("__rn")
  }

  /** Exact dedup by normalized-content hash: one survivor (min id) per
    * md5(normalized text). Pure groupBy-aggregate — partial aggregation
    * map-side, a single shuffle on the hash, no window needed.
    */
  def exactDedup(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val fp = md5(normalizeText(text))
    docs
      .groupBy(fp.as("fingerprint"))
      .agg(min(id).as("survivor_id"), count(lit(1)).as("n_copies"))
  }

  /** Span-level exact dedup (the RefinedWeb/Gopher "remove duplicated
    * spans" op, reference has no analogue): chunk every document into
    * fixed `chunkWords`-word spans, keep each distinct span's FIRST
    * occurrence corpus-wide (first = min (doc_id, span index), so later
    * re-quotes of boilerplate vanish while the original survives), and
    * reassemble every document from its kept spans. Documents reduced to
    * nothing come back as the empty string, never disappear.
    *
    * Plan shape at scale: chunking is one generator projection (no
    * per-word explosion — spans are sliced from a words array bound
    * behind the `spread` exchange, so the normalize+split runs once per
    * doc, not once per span); first-occurrence is a rank-1 window on the
    * span TEXT (high-cardinality shuffle key), which Catalyst plans
    * with a partial WindowGroupLimit below the exchange — each map task
    * pre-prunes to its local first occurrence, so no span group is ever
    * buffered whole AND the corpus is chunked exactly once (a
    * groupBy-min + join-back formulation evaluates the whole chunking
    * subtree twice: the join's build and probe sides can't share an
    * exchange when one sits under a partial aggregate); reassembly is
    * one groupBy on doc_id with an in-group sort. Two shuffles total,
    * both on high-cardinality keys.
    *
    * Returns (doc_id, text_deduped).
    */
  def spanDedup(docs: DataFrame, id: Column, text: Column,
                chunkWords: Int): DataFrame = {
    require(chunkWords > 0, s"spanDedup: chunkWords=$chunkWords")
    val spans = spanGrid(docs, id, text, chunkWords)
    val firstOcc = Window.partitionBy("span")
      .orderBy(col("doc_id"), col("span_idx"))
    val kept = spans
      .withColumn("__rn", row_number().over(firstOcc))
      .where(col("__rn") === 1)
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("span_idx"), col("span")))),
        s => s.getField("span")), " ").as("text_deduped"))
    docs.select(id.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** The disjoint `chunkWords`-word span grid shared by [[spanDedup]]
    * and [[boilerplateDedup]]: (doc_id, span_idx, span) per document.
    *
    * The words array is bound in its own projection between the spread
    * exchange and the generator: CollapseProject would otherwise inline
    * the regex normalize+split into every slice()/size() use site,
    * re-running it once per span per document (the measured
    * dominant-cost trap documented at shinglesFromWords) — and
    * computing it BELOW the exchange would serialize the regex onto the
    * 1-2 input splits that `spread` exists to parallelize. The Generate
    * node consumes the bound attribute, which CollapseProject cannot
    * reach through. */
  private def spanGrid(docs: DataFrame, id: Column, text: Column,
                       chunkWords: Int): DataFrame = {
    val bound = spread(docs.where(text.isNotNull)
      .select(id.as("doc_id"), normalizeText(text).as("__t")))
      .select(col("doc_id"), split(col("__t"), " ").as("__w"))
    val words = col("__w")
    val nChunks = ceil(size(words).cast("double") / chunkWords).cast("int")
    bound
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0),
            greatest(nChunks, lit(1)) - 1),
          i => array_join(
            slice(words, i * chunkWords + 1, lit(chunkWords)), " ")))
          .as(Seq("span_idx", "span")))
  }

  /** Boilerplate removal (the Gopher / RefinedWeb "remove lines
    * duplicated across documents" rule, on [[spanDedup]]'s chunk grid):
    * a span that occurs in at least `minDocs` DISTINCT documents is
    * boilerplate, and EVERY occurrence of it is removed — unlike
    * [[spanDedup]], where the first occurrence survives. The two
    * operators answer different questions: span dedup keeps the corpus's
    * one canonical copy of repeated content (training-token dedup);
    * boilerplate removal deletes content whose cross-document spread
    * marks it as template chrome (headers, navigation, cookie banners),
    * which no document should keep. Documents reduced to nothing come
    * back as the empty string, never disappear; per-doc span totals and
    * removal counts ride along for the datacard/threshold-tuning pass.
    *
    * Plan shape at scale: chunking is the shared one-generator grid
    * (normalize+split once per doc, behind the spread exchange); the
    * document-frequency count is a (span, doc_id) distinct followed by a
    * partial+final count on the span — both shuffles on the
    * high-cardinality span text; the removal mark is one left join of
    * the span stream against the (small, but unbounded — never assumed
    * broadcastable) hot-span set on the same span key, so AQE picks BHJ
    * exactly when the hot set is actually small; reassembly is one
    * groupBy(doc_id). No per-word explosion anywhere.
    *
    * Returns (doc_id, text_deduped, n_spans, n_removed).
    */
  def boilerplateDedup(docs: DataFrame, id: Column, text: Column,
                       chunkWords: Int, minDocs: Int): DataFrame = {
    require(chunkWords > 0 && minDocs > 0,
      s"boilerplateDedup: chunkWords=$chunkWords, minDocs=$minDocs")
    // id.isNotNull at the SOURCE, not inferred: the final left join
    // pushes isnotnull(doc_id) into the reassembly subtree only, and the
    // asymmetric filter breaks canonical equality with the hot-count
    // subtree — with it stated identically under both, the spread
    // exchange is a single AQE ReusedExchange and the corpus is scanned
    // (and normalize+split) ONCE (the passagePostings discipline).
    val spans = spanGrid(docs.where(id.isNotNull), id, text, chunkWords)
    val hot = spans.select(col("span"), col("doc_id"))
      .dropDuplicates("span", "doc_id")
      .groupBy("span").count()
      .where(col("count") >= minDocs)
      .select(col("span"), lit(true).as("__hot"))
    val marked = spans.join(hot, Seq("span"), "left")
      .select(col("doc_id"), col("span_idx"), col("span"),
        coalesce(col("__hot"), lit(false)).as("__rm"))
    val rebuilt = marked.groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("__rm"),
            struct(col("span_idx"), col("span"))))),
          s => s.getField("span")), " ").as("text_deduped"),
        count(lit(1)).as("n_spans"),
        sum(col("__rm").cast("long")).as("n_removed"))
    docs.select(id.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Persist the corpus's per-span distinct-document counts as a
    * write-once parquet index — the ingest-time half of CONTINUOUS
    * boilerplate removal ([[boilerplateDedup]]'s incremental shape,
    * mirroring [[persistPassageIndex]]). Cross-doc template chrome
    * changes slowly; a pipeline pays the corpus span-count pass ONCE and
    * every later batch probes at batch cost instead of re-counting the
    * corpus document frequencies per batch.
    *
    * Unlike the passage index (a SET of window hashes — any corpus
    * occurrence outranks a batch one), boilerplate hotness is a COUNT
    * threshold, so the index stores (span, n_docs) and the probe sums
    * corpus + batch counts against `minDocs`. Layout under `path`:
    * `spans/` (span, n_docs), `meta/` (chunk_words, min_docs), committed
    * by [[graft.exec.Artifact.persist]]. */
  def persistBoilerplateIndex(corpus: DataFrame, id: Column, text: Column,
                              path: String, chunkWords: Int,
                              minDocs: Int): Unit = {
    require(chunkWords > 0 && minDocs > 0,
      s"persistBoilerplateIndex: chunkWords=$chunkWords, minDocs=$minDocs")
    val spark = corpus.sparkSession
    import spark.implicits._
    Artifact.persist(spark, path,
        Seq((chunkWords, minDocs)).toDF("chunk_words", "min_docs")) {
      spanGrid(corpus.where(id.isNotNull), id, text, chunkWords)
        .dropDuplicates("span", "doc_id")
        .groupBy("span").agg(count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(s"$path/spans")
    }
  }

  /** Probe a [[persistBoilerplateIndex]] artifact with an ingestion
    * batch: a batch span is removed iff its corpus document count PLUS
    * its batch distinct-document count reaches the index's `minDocs`.
    * Output contract = [[boilerplateDedup]] over corpus ∪ batch
    * restricted to the batch docs — EXACT, not approximate (hotness is a
    * symmetric count, so the union recompute and the summed probe see
    * identical frequencies; spec-pinned, batch ids disjoint from corpus
    * ids).
    *
    * Scale shape: the batch's per-span counts are batch-bounded and
    * broadcast into a semi-join over the index scan (the index is read
    * once, never shuffled); the batch-relevant corpus counts broadcast
    * back over the batch spans. Probe cost tracks the BATCH plus one
    * index scan. */
  def probeBoilerplateIndex(batch: DataFrame, batchId: Column,
                            batchText: Column, path: String,
                            chunkWords: Int, minDocs: Int): DataFrame = {
    val spark = batch.sparkSession
    Artifact.requireMeta(spark, path, "boilerplate index",
      "probe requested")("chunkWords" -> chunkWords, "minDocs" -> minDocs)
    // SUM per span on read: a flat persistBoilerplateIndex artifact has
    // one row per span (the sum is a no-op), but a gate-built index is
    // epoch-PARTITIONED and carries one row per (span, epoch) — joining
    // those rows raw would test each epoch's count against minDocs
    // separately (under-removal) and duplicate hot rows into the mark
    // join. A probe of a quiesced gate index sees all epochs folded.
    probeBoilerplateFrame(batch, batchId, batchText,
      spark.read.parquet(s"$path/spans")
        .groupBy("span").agg(sum(col("n_docs")).as("n_docs")),
      chunkWords, minDocs)
  }

  /** The path-free probe core: `indexCounts` is the corpus per-span
    * count frame (span, n_docs). [[boilerplateGateBatch]] shares the
    * [[boilerplateMarked]] hotness core against its strictly-earlier
    * epoch view (deriving spans itself so one pinned span pass feeds
    * both the probe and the index write). */
  private def probeBoilerplateFrame(batch: DataFrame, batchId: Column,
                                    batchText: Column,
                                    indexCounts: DataFrame,
                                    chunkWords: Int, minDocs: Int)
      : DataFrame = {
    val spans = spanGrid(batch.where(batchId.isNotNull), batchId,
      batchText, chunkWords)
    val batchCounts = spans.select(col("span"), col("doc_id"))
      .dropDuplicates("span", "doc_id")
      .groupBy("span").agg(count(lit(1)).as("n_docs"))
    val marked = boilerplateMarked(spans, batchCounts, indexCounts,
      minDocs)
    val rebuilt = marked.groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("__rm"),
            struct(col("span_idx"), col("span"))))),
          s => s.getField("span")), " ").as("text_deduped"),
        count(lit(1)).as("n_spans"),
        sum(col("__rm").cast("long")).as("n_removed"))
    batch.select(batchId.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** THE count-summing hotness rule, shared by [[probeBoilerplateIndex]]
    * and [[boilerplateGateBatch]] so the one-shot probe and the
    * streaming gate can never drift: a span is hot iff its batch
    * distinct-doc count plus its corpus count reaches `minDocs`.
    * `spans` is a spanGrid frame, `batchCounts` its per-span
    * distinct-doc counts as (span, n_docs), `indexCounts` the corpus
    * view (span, n_docs). The batch-bounded sides broadcast. Returns the
    * marked span stream (doc_id, span_idx, span, __rm). */
  private def boilerplateMarked(spans: DataFrame, batchCounts: DataFrame,
                                indexCounts: DataFrame,
                                minDocs: Int): DataFrame = {
    val corpusCounts = indexCounts
      .join(broadcast(batchCounts.select("span")), Seq("span"), "left_semi")
    val hot = batchCounts.withColumnRenamed("n_docs", "__bn")
      .join(broadcast(corpusCounts), Seq("span"), "left")
      .where(col("__bn") + coalesce(col("n_docs"), lit(0L)) >= minDocs)
      .select(col("span"), lit(true).as("__hot"))
    spans.join(broadcast(hot), Seq("span"), "left")
      .select(col("doc_id"), col("span_idx"), col("span"),
        coalesce(col("__hot"), lit(false)).as("__rm"))
  }

  /** One microbatch of the continuous BOILERPLATE gate — the
    * df-threshold sibling of [[passageGateBatch]], with one structural
    * difference: the index (`spans/`) is a COUNT store, not a set. Each
    * epoch appends its batch's per-span distinct-doc counts and its
    * rewritten docs (chrome excised, empty docs dropped); a probe SUMS
    * counts across earlier epochs, so hotness reflects every document
    * ever ingested, INCLUDING chrome already excised from earlier
    * batches' rewritten text (the raw batch is counted, which is exactly
    * what a full recompute over the raw union would see).
    *
    * Because the index is consulted by SUMMING, [[compactSetIndex]]'s
    * duplicate-tolerance argument does NOT apply — transient duplicate
    * partitions would double-count. Compaction for this index means
    * summing, and is deliberately not provided until needed; refuse the
    * temptation to point compactSetIndex here.
    *
    * Writes, bootstrap and replay follow [[graft.exec.Artifact.gateEpoch]].
    * Index view: STRICTLY-EARLIER epochs (`ingest_batch < batchId`, not
    * the passage gate's `!=`): counts are raw batch frequencies, so a
    * later epoch's partition can carry the spans this batch contributed,
    * and a bootstrap replay reading it under `!=` would excise spans the
    * original run admitted. Under `<` every replay recomputes against
    * exactly the view its original run saw. A
    * [[persistBoilerplateIndex]] artifact is probe-only and refused. */
  def boilerplateGateBatch(indexPath: String, corpusPath: String,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           chunkWords: Int = 8, minDocs: Int = 4)
                          (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val id = col(idCol)
    Artifact.gateEpoch(batch, batchId, "boilerplateGateBatch",
        "probeBoilerplateIndex", indexPath, Seq("spans"))(
        "chunkWords" -> chunkWords, "minDocs" -> minDocs)(
        Seq((chunkWords, minDocs)).toDF("chunk_words", "min_docs")) {
        bootstrap =>
      val idxCounts =
        if (bootstrap) Seq.empty[(String, Long)].toDF("span", "n_docs")
        else spark.read.parquet(s"$indexPath/spans")
          .where(col("ingest_batch") < lit(batchId))
          .groupBy("span").agg(sum(col("n_docs")).as("n_docs"))
      // ONE batch span-count pass feeds the probe and the index write
      val spans = materialize(
        spanGrid(batch.where(id.isNotNull), id, col(textCol), chunkWords))
      val batchCounts = materialize(spans
        .select(col("span"), col("doc_id"))
        .dropDuplicates("span", "doc_id")
        .groupBy("span").agg(count(lit(1)).as("n_docs")))
      val rebuilt = boilerplateMarked(spans, batchCounts, idxCounts,
          minDocs)
        .groupBy("doc_id")
        .agg(array_join(transform(
            array_sort(collect_list(when(!col("__rm"),
              struct(col("span_idx"), col("span"))))),
            s => s.getField("span")), " ").as("text_deduped"))
      val admitted = materialize(
        batch.select(id.as("doc_id"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("text_deduped"), lit("")).as("text_deduped"))
          .where(col("text_deduped") =!= ""))
      Seq(corpusPath -> admitted, s"$indexPath/spans" -> batchCounts)
    }
  }

  /** SPAN-LEVEL benchmark decontamination — the surgical sibling of
    * [[contaminationScores]]: instead of scoring whole documents for
    * drop-or-keep, REMOVE exactly the spans that leak benchmark text and
    * keep the rest of the document (the RefinedWeb/FineWeb line-level
    * decontamination posture — dropping a 10k-word page because one
    * quoted benchmark sentence leaked throws away good tokens).
    *
    * A corpus span (disjoint `chunkWords`-word grid cell, the
    * [[spanDedup]] grid) is removed iff its normalized text equals ANY
    * `chunkWords`-word window of the benchmark at ANY word offset —
    * the benchmark side slides stride-1 (and keeps its truncated tail
    * windows), so a leaked run is caught wherever the corpus grid cuts
    * it and short final chunks still match. Documents reduced to
    * nothing come back as "", never disappear; (n_spans, n_removed)
    * ride along for the datacard.
    *
    * Scale: the corpus side is the shared one-generator span grid
    * (normalize+split once per doc, behind the spread exchange);
    * benchmarks are bounded by construction, so their distinct window
    * set is BROADCAST (the [[contaminationScores]] contract) and the
    * mark is a shuffle-free broadcast left join — one corpus pass, no
    * span-keyed exchange at all; reassembly is the one groupBy(doc_id).
    */
  def decontaminateSpans(docs: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchText: Column,
                         chunkWords: Int): DataFrame = {
    require(chunkWords > 0, s"decontaminateSpans: chunkWords=$chunkWords")
    val spans = spanGrid(docs.where(id.isNotNull), id, text, chunkWords)
    val benchWin = spread(bench.where(benchText.isNotNull)
        .select(normalizeText(benchText).as("__t")))
      .select(split(col("__t"), " ").as("__w"))
      .select(explode(transform(sequence(lit(0), size(col("__w")) - 1),
        i => array_join(slice(col("__w"), i + 1, lit(chunkWords)), " ")))
        .as("span"))
      .distinct()
      .select(col("span"), lit(true).as("__hot"))
    val marked = spans.join(broadcast(benchWin), Seq("span"), "left")
      .select(col("doc_id"), col("span_idx"), col("span"),
        coalesce(col("__hot"), lit(false)).as("__rm"))
    val rebuilt = marked.groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("__rm"),
            struct(col("span_idx"), col("span"))))),
          s => s.getField("span")), " ").as("text_decontaminated"),
        count(lit(1)).as("n_spans"),
        sum(col("__rm").cast("long")).as("n_removed"))
    docs.select(id.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_decontaminated"), lit(""))
          .as("text_decontaminated"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Passage-level exact dedup over OVERLAPPING windows (the ExactSubstr
    * shape of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", re-expressed relationally; the suffix-array
    * machinery is replaced by a windowed equality join, which is the
    * Spark-native way to find repeated runs): slide a `windowWords`-word
    * window over every document at `strideWords` spacing, find windows
    * whose exact text occurs earlier in the corpus (first = min
    * (doc_id, start)), and remove every word position covered by a
    * non-first window. Unlike [[spanDedup]]'s disjoint chunk grid, the
    * overlapping windows catch passages duplicated at ARBITRARY word
    * offsets: at stride 1, any repeated run of ≥ windowWords words in a
    * later document shares all of its windows with the first occurrence,
    * so the whole run (not just grid-aligned chunks of it) is excised.
    * `strideWords > 1` is the scale dial — windows per doc shrink by the
    * stride at the cost of alignment-dependent recall on runs shorter
    * than windowWords + stride − 1.
    *
    * Plan shape at scale: the corpus is SCANNED ONCE — the spread
    * exchange of the skinny (doc_id, text) projection is reused by both
    * posting consumers (AQE ReusedExchange, verified in the final
    * adaptive plan; the identical-source filters below it are what
    * makes the two subtrees canonicalize equal), and the normalize+
    * split generator runs once per consumer over the reused shuffle
    * output (the `shinglePostings` per-doc-once shape — an
    * array-slicing formulation instead re-ran the normalize regex in
    * pushed-down inferred generate filters at the SCAN, measured REGEX
    * ×4 in its executed plan). Window texts are assembled relationally
    * with lead() windows over (doc_id, pos) and hashed to skinny
    * (doc_id, start, md5) rows.
    * Duplicate detection is one rank window keyed on the 128-bit
    * window hash (high cardinality; group size = a window text's
    * duplication multiplicity — pathological boilerplate duplicated
    * across a large fraction of the corpus concentrates one key, the
    * same hot-key caveat [[jaccardPairs]] documents for `maxDf`);
    * covered-position expansion is a generator over the duplicate rows
    * only (windowWords positions each); removal is a left-anti join on
    * (doc_id, pos) against the SAME posting stream and reassembly one
    * groupBy(doc_id) — every shuffle key is high-cardinality. Documents
    * shorter than windowWords produce no windows and pass through
    * verbatim (a passage detector cannot assert anything about
    * sub-window documents; [[exactDedup]] is the whole-doc operator).
    * Documents reduced to nothing come back as the empty string, never
    * disappear.
    *
    * Returns (doc_id, text_deduped) over the NORMALIZED text, like
    * [[spanDedup]].
    */
  def passageDedup(docs: DataFrame, id: Column, text: Column,
                   windowWords: Int, strideWords: Int = 1): DataFrame = {
    val withH = passagePostings(docs, id, text, windowWords, strideWords)
    val firstOcc = Window.partitionBy("h").orderBy(col("doc_id"), col("st"))
    val covered = withH.where(col("h").isNotNull)
      .select(col("doc_id"), col("pos").as("st"), col("h"))
      .withColumn("__rn", row_number().over(firstOcc))
      .where(col("__rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("st"), col("st") + (windowWords - 1)))
          .as("pos"))
      .distinct()
    passageReassemble(docs, id, withH, covered)
  }

  /** The shared posting stream of the passage family: one row per word
    * position, plus `h` = the md5 of the `windowWords`-word window
    * STARTING at this position (null where no stride-aligned full
    * window starts). See [[passageDedup]] for the plan-shape rationale
    * -- this subtree is the "one corpus scan, lead-window assembly"
    * half.
    */
  private def passagePostings(docs: DataFrame, id: Column, text: Column,
                              windowWords: Int,
                              strideWords: Int): DataFrame = {
    require(windowWords > 0, s"passage ops: windowWords=$windowWords")
    require(strideWords > 0, s"passage ops: strideWords=$strideWords")
    // the doc_id repartition right above the generator is THE shared
    // exchange: the lead-window assembly, the anti-join probe side, and
    // the final reassembly aggregate all consume it (ReuseExchange -- one
    // scan, one normalize+split per doc), and every one of them is
    // already clustered by doc_id so none inserts another full-stream
    // shuffle of the postings
    // null ids are exempt from window participation (the [[priorityDedup]]
    // null-key precedent -- and a null id would sort BEFORE every real doc
    // in the first-occurrence rank, gutting real docs in favor of an
    // unaddressable row); a null-id doc reassembles to "" through the
    // null-never-matches final join either way, so output is unchanged.
    // The filter also keeps the two posting consumers' inferred
    // non-null-key filters identical, which exchange reuse requires.
    val posted = spread(docs.where(text.isNotNull && id.isNotNull)
        .select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        posexplode(split(normalizeText(col("__text")), " "))
          .as(Seq("pos", "word")))
      // explicit count: AQE would otherwise coalesce THE shared exchange
      // to 2-3 tasks on its (small) byte size and serialize every
      // downstream lead-window pass (the spreadBy rationale)
      .repartition(workParallelism(docs.sparkSession), col("doc_id"))
    val ordered = Window.partitionBy("doc_id").orderBy("pos")
    // a full window exists at pos iff the last of its words does (words
    // are never null, so a null lead means the doc tail was crossed)
    val tailWord = lead(col("word"), windowWords - 1).over(ordered)
    val winText = concat_ws(" ",
      col("word") +:
        (1 until windowWords).map(k => lead(col("word"), k).over(ordered)): _*)
    posted.withColumn("h",
      when(col("pos") % strideWords === 0 && tailWord.isNotNull,
        md5(winText)))
  }

  /** The shared reassembly tail of the passage family: drop covered
    * word positions, rebuild each doc's text in position order, return
    * every input doc (empty string for docs reduced to nothing or with
    * null text/id). `covered` is (doc_id, pos). */
  private def passageReassemble(docs: DataFrame, id: Column,
                                withH: DataFrame,
                                covered: DataFrame): DataFrame = {
    val rebuilt = withH.select("doc_id", "pos", "word")
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")), " ").as("text_deduped"))
    docs.select(id.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Persist the corpus's distinct passage-window hashes as a write-once
    * parquet index -- the ingest-time half of CONTINUOUS passage dedup
    * ([[passageDedup]]'s incremental shape, mirroring [[persistIndex]]
    * for minhash). A pipeline pays the corpus window pass ONCE; every
    * later batch probes the index at batch cost. Layout under `path`:
    * `windows/` (h -- distinct md5s, the only thing a later batch needs:
    * any corpus occurrence outranks every future batch occurrence),
    * `meta/` (window_words, stride_words -- probes validate against it,
    * because probing a w=6 index with w=8 windows would silently remove
    * nothing), committed by [[graft.exec.Artifact.persist]].
    */
  def persistPassageIndex(corpus: DataFrame, id: Column, text: Column,
                          path: String, windowWords: Int,
                          strideWords: Int = 1): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Artifact.persist(spark, path, Seq((windowWords, strideWords))
        .toDF("window_words", "stride_words")) {
      passagePostings(corpus, id, text, windowWords, strideWords)
        .where(col("h").isNotNull).select("h").distinct()
        .write.mode("overwrite").parquet(s"$path/windows")
    }
  }

  /** Probe a [[persistPassageIndex]] artifact with an ingestion batch:
    * remove (a) every batch passage whose window text already exists in
    * the corpus index, and (b) within-batch re-quotes (first batch
    * occurrence survives -- the corpus probe cannot see those). Output
    * contract = [[passageDedup]] over corpus+batch restricted to the
    * batch docs, with the whole corpus counting as "earlier" (exact
    * equivalence when corpus ids order before batch ids -- spec-pinned).
    *
    * Scale shape: the index is READ ONCE and never shuffled -- the
    * batch's distinct window hashes broadcast into a semi-join over the
    * index scan, producing the batch-bounded hit set, which broadcasts
    * back over the batch windows; probe cost tracks the BATCH plus one
    * index scan, the same argument as [[probePersistedIndex]].
    */
  def probePassageIndex(batch: DataFrame, batchId: Column,
                        batchText: Column, path: String,
                        windowWords: Int,
                        strideWords: Int = 1): DataFrame = {
    val spark = batch.sparkSession
    requirePassageMeta(spark, path, windowWords, strideWords,
      "probe requested")
    probePassageFrame(batch, batchId, batchText,
      spark.read.parquet(s"$path/windows").select("h"),
      windowWords, strideWords)
  }

  /** The path-free probe core: `indexH` is the corpus window-hash frame
    * (one column, `h`). [[passageGateBatch]] passes a SELF-EXCLUDED
    * read of its epoch-partitioned index here so a replayed epoch never
    * probes against its own crashed writes. */
  private def probePassageFrame(batch: DataFrame, batchId: Column,
                                batchText: Column, indexH: DataFrame,
                                windowWords: Int,
                                strideWords: Int): DataFrame = {
    val withH = passagePostings(batch, batchId, batchText,
      windowWords, strideWords)
    val wins = withH.where(col("h").isNotNull)
      .select(col("doc_id"), col("pos").as("st"), col("h"))
    val hitH = indexH
      .join(broadcast(wins.select("h").distinct()), Seq("h"), "left_semi")
    passageReassemble(batch, batchId, withH,
      coveredPositions(wins, hitH, windowWords))
  }

  /** Covered (doc_id, pos) of a batch window stream `wins`
    * (doc_id, st, h) against the corpus hit set `hitH`: corpus-covered
    * windows plus within-batch re-quotes (first batch occurrence
    * survives), expanded to word positions. `hitH` is batch-bounded and
    * broadcasts. */
  private def coveredPositions(wins: DataFrame, hitH: DataFrame,
                               windowWords: Int): DataFrame = {
    val corpusCovered = wins.join(broadcast(hitH), Seq("h"))
      .select("doc_id", "st")
    val innerDup = wins
      .withColumn("__rn", row_number().over(
        Window.partitionBy("h").orderBy(col("doc_id"), col("st"))))
      .where(col("__rn") > 1)
      .select("doc_id", "st")
    corpusCovered.unionByName(innerDup)
      .select(col("doc_id"),
        explode(sequence(col("st"), col("st") + (windowWords - 1)))
          .as("pos"))
      .distinct()
  }

  /** The batch window hashes NOT yet in `indexH` — the novelty core of
    * [[appendToPassageIndex]] ([[passageGateBatch]] runs the same
    * anti-join against the hit set its probe already built). Both joins
    * are batch-bounded on the build side. */
  private def novelWindows(batchH: DataFrame,
                           indexH: DataFrame): DataFrame = {
    val hitH = indexH.join(broadcast(batchH), Seq("h"), "left_semi")
    batchH.join(broadcast(hitH), Seq("h"), "left_anti")
  }

  /** Fold an ingested batch into a [[persistPassageIndex]] artifact:
    * append the batch's window hashes that are NOT yet indexed. Both
    * sides of the novelty check are batch-bounded (the hit set comes
    * from one broadcast semi-join over the index scan, never an index
    * shuffle), so append cost tracks the batch. Callers append the
    * SURVIVING batch's windows (post-[[probePassageIndex]]) in a
    * continuous gate, or the raw batch's to make future probes reject
    * re-quotes of text this batch introduced either way.
    */
  def appendToPassageIndex(batch: DataFrame, batchId: Column,
                           batchText: Column, path: String,
                           windowWords: Int,
                           strideWords: Int = 1): Unit = {
    val spark = batch.sparkSession
    requirePassageMeta(spark, path, windowWords, strideWords,
      "append requested")
    val batchH = passagePostings(batch, batchId, batchText,
        windowWords, strideWords)
      .where(col("h").isNotNull).select("h").distinct()
    novelWindows(batchH, spark.read.parquet(s"$path/windows"))
      .write.mode("append").parquet(s"$path/windows")
  }

  /** One microbatch of the continuous PASSAGE gate — the ExactSubstr
    * sibling of [[curationGateBatch]], except batch text is REWRITTEN
    * (covered passages excised) rather than whole docs dropped: batch
    * passages already in the index (`windows/`), plus within-batch
    * re-quotes, are excised exactly as [[probePassageIndex]] does, and
    * the epoch appends its admitted docs (non-empty deduped text) to the
    * corpus and its NOVEL window hashes to the index. The whole epoch
    * shares ONE pinned batch posting pass; bootstrap is the same code
    * path against an empty index frame.
    *
    * Writes, bootstrap and replay follow [[graft.exec.Artifact.gateEpoch]].
    * A bootstrap batch yielding NO windows (all docs sub-window) lands
    * its corpus partition and bootstraps again on the next batch.
    * Index view: every epoch EXCEPT this one (`ingest_batch !=
    * batchId`). The sibling gates' "a replay rejects everything" argument
    * does not carry over to passage dedup — sub-window docs pass through
    * on every attempt, so a self-probing replay would rewrite the corpus
    * partition with only those — hence the exclusion: a replayed epoch
    * recomputes EXACTLY the original admitted set. A
    * [[persistPassageIndex]] artifact is probe-only and refused. */
  def passageGateBatch(indexPath: String, corpusPath: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       windowWords: Int = 6, strideWords: Int = 1)
                      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val id = col(idCol)
    Artifact.gateEpoch(batch, batchId, "passageGateBatch",
        "probePassageIndex", indexPath, Seq("windows"))(
        "windowWords" -> windowWords, "strideWords" -> strideWords)(
        Seq((windowWords, strideWords)).toDF("window_words", "stride_words")) {
        bootstrap =>
      val idxH =
        if (bootstrap) Seq.empty[String].toDF("h")
        else spark.read.parquet(s"$indexPath/windows")
          .where(col("ingest_batch") =!= lit(batchId)).select("h")
      // ONE batch posting pass feeds the probe, the admitted set, and the
      // novelty check
      val withH = materialize(
        passagePostings(batch, id, col(textCol), windowWords, strideWords))
      val wins = withH.where(col("h").isNotNull)
        .select(col("doc_id"), col("pos").as("st"), col("h"))
      val batchH = wins.select("h").distinct()
      val hitH = idxH.join(broadcast(batchH), Seq("h"), "left_semi")
      val deduped = passageReassemble(batch, id, withH,
        coveredPositions(wins, hitH, windowWords))
      Seq(corpusPath ->
          materialize(deduped.where(col("text_deduped") =!= "")),
        s"$indexPath/windows" ->
          materialize(batchH.join(broadcast(hitH), Seq("h"), "left_anti")))
    }
  }

  /** Compact an epoch-partitioned SET index (the curation gate's `fps/`
    * or the passage gate's `windows/`: partitions `ingest_batch=N`
    * holding a key set) — after thousands of microbatches the
    * one-partition-per-epoch layout is a small-file problem, and every
    * probe pays the listing. Rewrites the distinct keys of all
    * partitions with `ingest_batch <= upToBatch` into the single base
    * partition `ingest_batch = -1` (gates never emit negative epochs),
    * then deletes the compacted partitions.
    *
    * Safety argument: these indexes are consulted ONLY through
    * semi-/anti-joins on the key, so transient DUPLICATE keys across
    * partitions (crash between the base write and the deletes) change
    * nothing — re-running the compaction finishes the deletes.
    * The LATEST epoch present is refused (require): with a checkpointed
    * stream only the newest epoch can ever replay, and a replay of a
    * compacted epoch would probe against its own folded-in keys (the
    * self-exclusion can no longer see them once the partition is gone).
    * Compacting `upToBatch < max present` keeps every replayable epoch
    * intact. NOT for the minhash `bands/`/`shingles/` index, whose
    * verify join is row-multiplicative under duplicates.
    *
    * OFFLINE maintenance: run while the gate is stopped. The
    * duplicate-tolerance argument covers compaction CRASHES, not a
    * LIVE reader — a gate microbatch that lists windows/ just before
    * the delete loop and executes its scan just after would fail on
    * the deleted files.
    */
  def compactSetIndex(spark: SparkSession, path: String,
                      keyCols: Seq[String], upToBatch: Long): Unit = scoped {
    val all = spark.read.parquet(path)
    require(all.columns.contains("ingest_batch"),
      s"compactSetIndex: $path is not epoch-partitioned")
    val maxPresent =
      all.agg(max(col("ingest_batch")).cast("long")).head().getLong(0)
    require(upToBatch < maxPresent,
      s"compactSetIndex: refusing to compact up to $upToBatch — the " +
        s"latest epoch present ($maxPresent) must stay intact because " +
        "it is the only one a checkpointed stream can replay")
    val keys = materialize(
      all.where(col("ingest_batch") <= upToBatch)
        .select(keyCols.map(col): _*).distinct())
    if (!keys.isEmpty) {
      Artifact.writeEpoch(keys, -1L, path)
      val fs = Artifact.fs(spark, path)
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("ingest_batch=") &&
            n.stripPrefix("ingest_batch=").toLongOption
              .exists(b => b >= 0 && b <= upToBatch)
        }
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  private def requirePassageMeta(spark: SparkSession, path: String,
                                 windowWords: Int, strideWords: Int,
                                 op: String): Unit =
    Artifact.requireMeta(spark, path, "passage index", op)(
      "windowWords" -> windowWords, "strideWords" -> strideWords)

  /** Whitespace-collapse + lowercase canonicalization used by every
    * text-dedup operator (equivalent logic in both Spark and the DuckDB
    * oracle so fingerprints agree).
    */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Distinct w-shingles from an ALREADY-MATERIALIZED words-array column.
    *
    * The words array must be a bound attribute, not an inline split(...)
    * expression: CollapseProject inlines a common subexpression into every
    * use site, so element_at over an inline split would re-run the full
    * regex split per shingle element (measured 200+ splits/doc — the
    * dominant cost of the whole dedup family before this refactor). The
    * `shingleFrame` helper below materializes words behind a repartition
    * exchange, which CollapseProject cannot cross.
    */
  def shinglesFromWords(words: Column, w: Int = 3): Column = {
    val n = size(words)
    // greatest(...) keeps sequence() ascending even when n < w (Spark's
    // sequence auto-descends when start > stop, which would be wrong here)
    val full = transform(sequence(lit(1), greatest(n - (w - 1), lit(1))),
      i => concat_ws(" ", (0 until w).map(k => element_at(words, i + k)): _*))
    array_distinct(when(n >= w, full).otherwise(array(array_join(words, " "))))
  }

  /** Convenience form over raw text (tests / one-off use; the operators
    * use shingleFrame to avoid the inline-split recompute trap). */
  def shingles(text: Column, w: Int = 3): Column =
    shinglesFromWords(split(normalizeText(text), " "), w)

  /** Distinct shingle POSTINGS (id, shingle, n_sh) built relationally:
    * posexplode the word stream (a generator evaluates its input split()
    * exactly once per doc — array-expression forms get re-inlined by
    * CollapseProject into every lambda reference, re-running the regex
    * split per shingle element; measured 8 split() copies in the executed
    * plan), then assemble w-grams with lead() windows over (id, pos),
    * dedupe with a (id, shingle) aggregate, and count distinct shingles
    * per doc with a window.
    *
    * This is also the 100 TB-safe shape: the hot path streams skinny
    * posting rows through exchanges keyed on high-cardinality (id) /
    * (id, shingle); no per-doc array is built or recomputed anywhere.
    * Docs shorter than w words contribute their whole normalized text as
    * the single shingle (concat_ws skips the null leads), matching
    * `shinglesFromWords`' fallback and the DuckDB oracle.
    */
  private def shinglePostings(docs: DataFrame, id: Column, text: Column,
                              w: Int): DataFrame = {
    // round-robin spread parallelizes the normalize/split/explode (the
    // raw scan is 1-3 splits), then ONE pinned keyed exchange feeds every
    // per-doc window/aggregate — the passagePostings shape: the explicit
    // count stops AQE from coalescing the window stage to 2-3 tasks on
    // byte size, and keying post-explode keeps normalize a once-per-
    // instance map-side pass instead of a per-consumer recompute
    val posted = spread(docs.select(id.as("id"), text.as("text")))
      .select(col("id"),
        posexplode(split(normalizeText(col("text")), " "))
          .as(Seq("pos", "word")))
      .repartition(workParallelism(docs.sparkSession), col("id"))
    val ordered = Window.partitionBy("id").orderBy("pos")
    val perDoc = Window.partitionBy("id")
    posted
      .withColumn("n_words", count(lit(1)).over(perDoc))
      .withColumn("shingle", concat_ws(" ",
        col("word") +:
          (1 until w).map(k => lead(col("word"), k).over(ordered)): _*))
      .where((col("n_words") >= w && col("pos") <= col("n_words") - w) ||
        (col("n_words") < w && col("pos") === 0))
      .groupBy("id", "shingle").agg(first(lit(1)))
      .select("id", "shingle")
      .withColumn("n_sh", count(lit(1)).over(perDoc))
  }

  /** Per-doc distinct HASHED-shingle arrays (id, sh: array<long>) for
    * candidate verification — assembled from the postings (order
    * irrelevant: array_intersect is a set operation). Shingles are
    * xxhash64'd: |A∩B| over 64-bit hashes equals |A∩B| over the strings
    * up to a ~n²/2^64 ≈ 1e-14 per-pair collision probability, and the
    * array rows the verify joins have to SHUFFLE shrink ~3x (8-byte
    * longs vs ~25-byte shingle strings) — at 50k docs that cut the
    * verify stage's shuffle from ~2.2 GB to ~0.7 GB. */
  private def shingleFrame(docs: DataFrame, id: Column, text: Column,
                           w: Int): DataFrame =
    shinglePostings(docs, id, text, w)
      .groupBy("id").agg(collect_list(xxhash64(col("shingle"))).as("sh"))

  /** Brute-force-equivalent n-gram Jaccard near-dup pairs, computed the
    * scalable way: explode shingles into an inverted index, self-join on
    * shingle to generate candidate pairs, then count |A∩B| per pair and
    * derive Jaccard = |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Scale: never materializes the O(N²) pair space — only pairs sharing at
    * least one shingle are generated, and the shuffle key is the shingle
    * (then the pair), both high-cardinality. Hot shingles (stopword runs)
    * can be capped with a document-frequency filter (`maxDf`), the standard
    * trick at corpus scale; disabled by default so results equal exact
    * brute force on the test corpus.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    * Jaccard is an exact rational (long/long division in double), so it is
    * bit-identical across engines.
    */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column,
                   threshold: Double, w: Int = 3,
                   maxDf: Option[Int] = None): DataFrame =
    invertedIndexPairs(docs, id, text, w, maxDf)(
      (inter, na, nb) => inter.cast("double") / (na + nb - inter),
      "jaccard", threshold)

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) >= threshold over
    * distinct w-shingle sets. Containment is the SUBSET-duplication
    * detector the symmetric Jaccard misses: a short document wholly
    * embedded in a much longer one (boilerplate wrapping, quote-reply
    * chains, concatenated dumps) has containment 1.0 but Jaccard
    * |A|/|B| — arbitrarily low. Standard alongside Jaccard in
    * training-corpus dedup (Broder's resemblance/containment pairing).
    *
    * Same inverted-index plan as `jaccardPairs` (shingle-keyed candidate
    * join, no O(N²) pair space), same `maxDf` hot-shingle cap, output
    * (id_a, id_b, containment) with id_a < id_b. The score is an exact
    * long/long division in double — bit-identical across engines.
    */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       threshold: Double, w: Int = 3,
                       maxDf: Option[Int] = None): DataFrame =
    invertedIndexPairs(docs, id, text, w, maxDf)(
      (inter, na, nb) => inter.cast("double") / least(na, nb),
      "containment", threshold)

  /** Shared inverted-index candidate/score plan for the set-overlap pair
    * detectors (`jaccardPairs`, `containmentPairs`): the shingle
    * postings go through the [[graft.exec.Exec.keyGroups]] pair
    * generator keyed on shingle (`maxDf` is its size cap), then |A∩B| is
    * counted per pair and `score(inter, na, nb)` applied.
    *
    * Scale: never materializes the O(N²) pair space — only pairs sharing
    * at least one shingle are generated, and the shuffle key is the
    * shingle (then the pair), both high-cardinality. Hot shingles
    * (stopword runs) can be capped with a document-frequency filter
    * (`maxDf`), the standard trick at corpus scale; disabled by default
    * so results equal exact brute force on the test corpus.
    */
  private def invertedIndexPairs(docs: DataFrame, id: Column, text: Column,
                                 w: Int, maxDf: Option[Int])(
      score: (Column, Column, Column) => Column, scoreName: String,
      threshold: Double): DataFrame = {
    val inv = keyGroups(shinglePostings(docs, id, text, w), Seq("shingle"),
      "id", maxDf.map(_.toLong))
    keyPairs(inv, Seq("shingle"), "id")
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(scoreName, score(col("inter"), col("na"), col("nb")))
      .where(col(scoreName) >= threshold)
      .select(col("id_a"), col("id_b"), col(scoreName))
  }

  /** Benchmark decontamination: per document, the fraction of its
    * distinct w-shingles that occur ANYWHERE in a benchmark corpus —
    * the standard n-gram-overlap contamination check run before a corpus
    * is used for training (so eval benchmarks aren't memorized). Returns
    * every input document: (id, n_sh, n_matched, contamination), with
    * contamination = n_matched / n_sh as an exact long/long division.
    *
    * Scale: the benchmark side is DISTINCT shingles hashed to 64-bit
    * longs and broadcast — benchmark suites are bounded by construction
    * (a few MB of shingles), while the corpus side streams through one
    * shuffle-free broadcast-hash join plus a per-doc aggregate keyed on
    * the high-cardinality id. Matching on xxhash64(shingle) instead of
    * the string cuts the broadcast and probe bytes ~3x; a cross-hash
    * false match needs an exact 64-bit collision between a corpus and a
    * benchmark shingle (~1e-10 at 100k×100k shingles). Zero-match
    * documents are preserved via the left join (the explode-drops-rows
    * trap); null-text documents have no postings and are absent from the
    * output, like every other shingle detector.
    */
  def contaminationScores(docs: DataFrame, id: Column, text: Column,
                          bench: DataFrame, benchId: Column,
                          benchText: Column, w: Int = 3): DataFrame = {
    val docSh = shinglePostings(docs, id, text, w)
      .select(col("id"), xxhash64(col("shingle")).as("sh"))
    val benchSh = shinglePostings(bench, benchId, benchText, w)
      .select(xxhash64(col("shingle")).as("sh")).distinct()
    // ONE corpus pass: flag each posting via the broadcast LEFT join (so
    // zero-match docs survive), then count postings and hits in a single
    // partial+final aggregate — a matched-postings inner join plus a
    // second per-doc frame would scan the corpus twice (measured 3 scans
    // in the executed plan) for no information this shape doesn't have.
    docSh
      .join(broadcast(benchSh.withColumn("__hit", lit(1))), Seq("sh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(col("__hit")), lit(0L)).cast("long").as("n_matched"))
      .withColumn("contamination",
        col("n_matched").cast("double") / col("n_sh").cast("double"))
  }

  /** `contaminationScores`' beyond-broadcast scale path: the benchmark
    * shingle set compressed into a BLOOM FILTER instead of a broadcast
    * hash relation. The broadcast side shrinks from 64 bits per distinct
    * shingle (the xxhash64 set) to ~`1.44·log2(1/fpp)` bits (≈ 9.6 at
    * fpp 1%, a ~6.7× cut; tighter fpp trades bits for false positives
    * linearly in log-space) — the difference between "fits the broadcast
    * budget" and not when decontaminating against something bigger than
    * a benchmark suite, e.g. an entire held-out corpus or every eval set
    * a lab owns at once.
    *
    * Built from Spark's own runtime-filter machinery (the
    * `BloomFilterAggregate` / `BloomFilterMightContain` expression pair
    * that AQE's InjectRuntimeFilter plants): ONE aggregate pass builds
    * the serialized filter (partial per-partition filters OR-merged —
    * commutative, so no ordering concerns), a single-row broadcast
    * carries it to every executor, and the probe is a codegen'd
    * might-contain against the corpus's 64-bit shingle hashes — same
    * one-pass, shuffle-free-on-the-corpus shape as the exact operator.
    *
    * Contract: NO false negatives ever (a Bloom filter cannot miss an
    * inserted element), false positives at ≈`fpp` per probe — so
    * `n_matched` here is an UPPER bound on the exact operator's, and
    * contamination gating with it errs toward dropping clean documents,
    * never toward keeping contaminated ones. The q_decontaminate_bloom
    * oracle pins the superset contract per document; the spec pins
    * recall exactness on planted contamination. An EMPTY benchmark side
    * yields a null filter and `might_contain(null, _)` is null → zero
    * matches, mirroring the exact operator's empty-broadcast behavior.
    */
  def contaminationScoresBloom(docs: DataFrame, id: Column, text: Column,
                               bench: DataFrame, benchId: Column,
                               benchText: Column, w: Int = 3,
                               expectedItems: Long = 1L << 20,
                               fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0 && fpp > 0.0 && fpp < 1.0,
      s"contaminationScoresBloom: expectedItems=$expectedItems, fpp=$fpp")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // optimal bit count for the target fpp: n·ln(fpp)/ln²2, the standard
    // Bloom sizing (Spark clamps internally to its own max)
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    val docSh = shinglePostings(docs, id, text, w)
      .select(col("id"), xxhash64(col("shingle")).as("sh"))
    val benchSh = shinglePostings(bench, benchId, benchText, w)
      .select(xxhash64(col("shingle")).as("sh")).distinct()
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(col("sh")),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    // might_contain requires its filter side be a constant or a scalar
    // subquery (never a per-row column) — hand it the aggregate's plan
    // as exactly the ScalarSubquery AQE's InjectRuntimeFilter would
    // build: the filter computes once as a subquery stage, ships to
    // executors as a query-level constant, and the probe stays codegen'd
    val filterSubquery = org.apache.spark.sql.catalyst.expressions
      .ScalarSubquery(benchSh.agg(bloomAgg.as("__bf"))
        .queryExecution.analyzed)
    val hit = GraftBridge.column(BloomFilterMightContain(
      filterSubquery, GraftBridge.expression(col("sh"))))
    docSh
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(when(hit, 1L)), lit(0L)).cast("long").as("n_matched"))
      .withColumn("contamination",
        col("n_matched").cast("double") / col("n_sh").cast("double"))
  }

  /** MinHash + LSH banding near-dup detection with exact verification.
    *
    * Pipeline: shingle → k-minhash signature → split into `bands` bands of
    * k/bands rows → hash each band → shuffle on (band_idx, band_hash) →
    * candidate pairs from same-bucket docs → verify candidates with EXACT
    * shingle Jaccard → threshold filter.
    *
    * Scale: the only all-to-all operation keys on band hashes (uniform by
    * construction) — the [[graft.exec.Exec.keyGroups]] pair generator
    * keyed on (band_idx, band_hash); candidate verification joins back
    * the (small) shingle sets only for candidate ids — a semi-join
    * reduction exactly like the reference's distinct-before-API-call
    * trick.
    *
    * Recall bound at the DEFAULTS (k=128, bands=32, r=4): P[miss] =
    * (1-J^4)^32 — ≈1.5e-15 at J=0.9, but ≈1.2% for a pair sitting AT a
    * 0.6 query threshold. The oracle-checked queries pass exactly because
    * the corpus's planted pairs are J≥0.9; a corpus dense in
    * just-at-threshold pairs would deterministically diverge from an
    * exact-Jaccard oracle by that ~1% band miss rate. Raise r (e.g.
    * bands=16/r=8: miss at J=0.9 ≈ 5e-5, but at J=0.6 ≈ 63%) only when
    * the threshold itself is high; r=4 is the sweet spot for 0.6-ish
    * thresholds (r=2 floods candidates on word-soup corpora — measured in
    * BASELINE.md). Precision is always exact (final exact-Jaccard
    * verify).
    *
    * Output schema identical to `jaccardPairs` (so the same DuckDB
    * brute-force oracle verifies it).
    */
  def minhashLshPairs(docs: DataFrame, id: Column, text: Column,
                      threshold: Double, w: Int = 3,
                      k: Int = 128, bands: Int = 32): DataFrame = {
    val band = Seq("band_idx", "band_hash")
    val cand = keyPairs(
        keyGroups(minhashBands(docs, id, text, w, k, bands), band, "id"),
        band, "id")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyWithShingles(cand, shingleFrame(docs, id, text, w), threshold)
  }

  /** (id, band_idx, band_hash) MinHash LSH band rows — the shared signature
    * stage of the symmetric (`minhashLshPairs`) and incremental
    * (`incrementalNearDupPairs`) detectors.
    *
    * Signature minima computed RELATIONALLY: k codegen'd xxhash64
    * columns per shingle posting, one partial+final MIN aggregate keyed
    * on id. This keeps the whole signature stage inside whole-stage
    * codegen (the expression form pays k interpreted lambda sweeps per
    * doc and re-inlines the array at every band reference).
    * The shingle STRING is hashed once to a 64-bit base; the k
    * permutations re-seed the base long (2 xxhash64 rounds each) instead
    * of re-hashing the ~25-byte string k times — same minima statistics
    * (distinct shingles -> distinct bases up to 2^-64), ~4x less hash
    * work in the single hottest projection of the pipeline.
    *
    * Band rows carry ONLY (id, band_idx, band_hash): the shingle arrays
    * are the bulk of the bytes and must not ride through the all-to-all
    * band shuffle — candidates re-acquire them via the verify stage's
    * semi-join-style lookup on the (small) candidate id set.
    */
  private def minhashBands(docs: DataFrame, id: Column, text: Column,
                           w: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val inv = shinglePostings(docs, id, text, w)
      .select(col("id"), xxhash64(col("shingle")).as("base"))
    val hashed = inv.select(col("id") +:
      (0 until k).map(j => xxhash64(col("base"), lit(j)).as(s"h$j")): _*)
    val mins = hashed.groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(j => min(col(s"h$j")).as(s"m$j")): _*)
    mins.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          (0 until r).map(i => col(s"m${b * r + i}")): _*))
      }: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** INCREMENTAL near-dup detection: match a new ingestion batch against
    * an existing corpus without ever comparing the corpus to itself —
    * the shape continuous training-data pipelines actually run (the
    * corpus was deduped when it was ingested; only batch×corpus pairs
    * are new information). Returns (batch_id, corpus_id, jaccard) with
    * exact w-shingle Jaccard >= threshold; batch-internal duplicates are
    * out of scope (run `minhashLshPairs` on the batch for those).
    *
    * Scale: both sides go through the same MinHash band stage, but the
    * join is batch-bands × corpus-bands — candidate volume is
    * O(|batch| × collisions), independent of |corpus|², and the batch
    * side is broadcast (an ingestion increment is bounded by cadence),
    * so the corpus side streams through a shuffle-FREE broadcast-hash
    * join: no all-to-all exchange of corpus band rows at all. Verification re-acquires
    * shingle arrays per side, each frame joined exactly once (the
    * round-4 multi-join trap was the SAME frame embedded per side); the
    * batch frame is broadcast, so the only exchange left keys on
    * corpus_id. At production scale the corpus band/shingle frames are
    * write-once artifacts persisted at ingest — `persistIndex` writes
    * them, `probePersistedIndex` probes them — making the incremental
    * cost one batch signature pass + one corpus scan, zero corpus
    * recompute.
    */
  def incrementalNearDupPairs(batch: DataFrame, batchId: Column,
                              batchText: Column, corpus: DataFrame,
                              corpusId: Column, corpusText: Column,
                              threshold: Double, w: Int = 3,
                              k: Int = 128,
                              bands: Int = 32): DataFrame =
    probeCorpus(
      minhashBands(batch, batchId, batchText, w, k, bands),
      minhashBands(corpus, corpusId, corpusText, w, k, bands),
      shingleFrame(batch, batchId, batchText, w),
      shingleFrame(corpus, corpusId, corpusText, w),
      threshold)

  /** The batch→corpus probe shared by the recompute
    * (`incrementalNearDupPairs`) and persisted-index
    * (`probePersistedIndex`) paths: broadcast band join for candidates,
    * melted shingle re-acquisition, exact Jaccard verify. Band frames
    * carry (id, band_idx, band_hash); shingle frames carry (id, sh). */
  private def probeCorpus(bBands: DataFrame, cBands: DataFrame,
                          bShingles: DataFrame, cShingles: DataFrame,
                          threshold: Double): DataFrame = {
    val cand = broadcast(bBands).as("a").join(cBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    val shB = bShingles.select(col("id").as("batch_id"), col("sh").as("sh_a"))
    val shC = cShingles.select(col("id").as("corpus_id"), col("sh").as("sh_b"))
    cand
      .join(broadcast(shB), Seq("batch_id"))
      .join(shC, Seq("corpus_id"))
      .where(least(size(col("sh_a")), size(col("sh_b"))) >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))))
      // codegen'd sort-merge count (the sh arrays are duplicate-free by
      // construction): |A∩B| identical to size(array_intersect), which
      // was the verify stage's interpreted per-pair hot spot (r13)
      .withColumn("inter", graft.functions.VectorExpressions
        .intersectCountLong(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Persist the corpus's MinHash band rows and hashed shingle sets as
    * write-once parquet artifacts — the ingest-time half of the
    * incremental-dedup contract. A continuous pipeline pays the corpus
    * signature pass ONCE per ingest; every later batch probe
    * (`probePersistedIndex`) reads these frames instead of recomputing
    * them, so probe cost = one batch signature pass + one corpus scan.
    *
    * Layout under `path`: `bands/` (id, band_idx, band_hash — the skinny
    * all-to-all rows), `shingles/` (id, sh — the verify payload),
    * `meta/` (w, k, bands: the signature parameters baked into the
    * data; probes validate against it, because probing k=128 bands with
    * a k=64 index would silently return garbage recall), committed by
    * [[graft.exec.Artifact.persist]]. The layout is flat and the index
    * probe-only: [[ingestGateBatch]] grows its own epoch-partitioned
    * index and refuses this one. */
  def persistIndex(corpus: DataFrame, id: Column, text: Column,
                   path: String, w: Int = 3, k: Int = 128,
                   bands: Int = 32): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Artifact.persist(spark, path,
        Seq((w, k, bands)).toDF("w", "k", "bands")) {
      minhashBands(corpus, id, text, w, k, bands)
        .write.mode("overwrite").parquet(s"$path/bands")
      shingleFrame(corpus, id, text, w)
        .write.mode("overwrite").parquet(s"$path/shingles")
    }
  }

  /** Probe a `persistIndex` artifact with a new ingestion batch: same
    * output contract as `incrementalNearDupPairs` (batch_id, corpus_id,
    * exact jaccard >= threshold), but the corpus side is two parquet
    * scans — no signature recompute, no shuffle of corpus rows (the
    * batch side broadcasts through both joins). */
  def probePersistedIndex(batch: DataFrame, batchId: Column,
                          batchText: Column, path: String,
                          threshold: Double, w: Int = 3, k: Int = 128,
                          bands: Int = 32): DataFrame = {
    val spark = batch.sparkSession
    Artifact.requireMeta(spark, path, "persisted index", "probe requested")(
      "w" -> w, "k" -> k, "bands" -> bands)
    probeCorpus(
      minhashBands(batch, batchId, batchText, w, k, bands),
      spark.read.parquet(s"$path/bands"),
      shingleFrame(batch, batchId, batchText, w),
      spark.read.parquet(s"$path/shingles"),
      threshold)
  }

  /** One microbatch of the CONTINUOUS ingestion dedup gate — the shape a
    * 100 TB pipeline actually runs, as a `foreachBatch` body (wire it
    * with `EventStreams.startGate(stream, ckpt)(ingestGateBatch(...))`):
    *
    *   1. probe the gate's corpus index (the `probePersistedIndex` core)
    *      and drop batch docs near-duplicating the corpus — batch×corpus
    *      only, the corpus never self-joins and never recomputes;
    *   2. dedup the batch INTERNALLY (minhash pairs → min-id survivor)
    *      — without this, two near-identical docs arriving in the same
    *      batch would both pass the corpus probe and poison the index;
    *   3. append the admitted docs to the corpus and their band/shingle
    *      frames to the index (`bands/`, `shingles/`).
    *
    * Writes, bootstrap and replay follow [[graft.exec.Artifact.gateEpoch]].
    * Index view: a FULL read, so batch N+1 probes a corpus that already
    * holds batch N's survivors, and a replay of a committed epoch admits
    * nothing (every admitted doc self-matches the corpus). A
    * [[persistIndex]] artifact is probe-only and refused. */
  def ingestGateBatch(indexPath: String, corpusPath: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      threshold: Double = 0.6, w: Int = 3, k: Int = 128,
                      bands: Int = 32)
                     (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val id = col(idCol)
    val text = col(textCol)
    Artifact.gateEpoch(batch, batchId, "ingestGateBatch",
        "probePersistedIndex", indexPath, Seq("bands", "shingles"))(
        "w" -> w, "k" -> k, "bands" -> bands)(
        Seq((w, k, bands)).toDF("w", "k", "bands")) { bootstrap =>
      val afterCorpus =
        if (bootstrap) batch
        else {
          val matched = probeCorpus(
              minhashBands(batch, id, text, w, k, bands),
              spark.read.parquet(s"$indexPath/bands"),
              shingleFrame(batch, id, text, w),
              spark.read.parquet(s"$indexPath/shingles"), threshold)
            .select(col("batch_id")).distinct()
          batch.join(matched, id === col("batch_id"), "left_anti")
        }
      val keep = nearDupSurvivors(afterCorpus, id,
          minhashLshPairs(afterCorpus, id, text, threshold, w, k, bands))
        .where(col("survivor_id") === col("doc_id"))
        .select(col("doc_id").as("__keep_id"))
      // the admitted set's lineage reads the bands/shingles the epoch
      // overwrites on replay: pinned, by a reliable checkpoint when the
      // session has a checkpoint dir (it survives executor loss), else a
      // localCheckpoint
      val admitted = materialize(
        afterCorpus.join(keep, id === col("__keep_id"), "left_semi"))
      Seq(corpusPath -> admitted,
        s"$indexPath/bands" -> minhashBands(admitted, id, text, w, k, bands),
        s"$indexPath/shingles" -> shingleFrame(admitted, id, text, w))
    }
  }

  /** One microbatch of the continuous CURATION gate — the exact-dedup
    * sibling of `ingestGateBatch`, streaming `q_pipeline_curation`'s
    * gate+dedup stages (split/stats are stateless projections a consumer
    * runs over the corpus):
    *
    *   1. gate the batch on the conjunctive gopher rule pack
    *      (`TextAnalysis.gopherFlags`);
    *   2. drop batch docs whose content fingerprint already exists in
    *      the index (`fps/`) — exact corpus dedup as ONE skinny md5
    *      anti-join, no signatures;
    *   3. dedup the batch internally (first id per fingerprint), without
    *      which two copies arriving in one batch would both pass the
    *      corpus probe and poison the index;
    *   4. append admitted docs to the corpus and their fingerprints to
    *      the index.
    *
    * Writes, bootstrap and replay follow [[graft.exec.Artifact.gateEpoch]];
    * meta records the rule bounds, so a gate restarted with different
    * bounds fails loudly instead of silently mixing two curation
    * policies in one corpus. Index view: a FULL read — a replay of a
    * committed epoch admits nothing. */
  def curationGateBatch(indexPath: String, corpusPath: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        minWords: Int = 20, maxWords: Int = 90,
                        minAvgWordLen: Double = 3.0,
                        maxAvgWordLen: Double = 10.0)
                       (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    Artifact.gateEpoch(batch, batchId, "curationGateBatch",
        "an anti-join on TextAnalysis.fingerprint", indexPath, Seq("fps"))(
        "minWords" -> minWords, "maxWords" -> maxWords,
        "minAvgWordLen" -> minAvgWordLen, "maxAvgWordLen" -> maxAvgWordLen)(
        Seq((minWords, maxWords, minAvgWordLen, maxAvgWordLen))
          .toDF("min_words", "max_words", "min_awl", "max_awl")) {
        bootstrap =>
      val ok = graft.functions.TextAnalysis.gopherFlags(col(textCol),
        minWords, maxWords, minAvgWordLen, maxAvgWordLen)
        .map(_._2).reduce(_ && _)
      val gated = batch.where(ok).withColumn("__fp",
        graft.functions.TextAnalysis.fingerprint(col(textCol)))
      val fresh =
        if (bootstrap) gated
        else gated.join(
          spark.read.parquet(s"$indexPath/fps").select(col("fp").as("__seen")),
          col("__fp") === col("__seen"), "left_anti")
      // the admitted set's lineage reads the fps/ the epoch writes
      val admitted = materialize(fresh
        .withColumn("__rn", row_number().over(
          Window.partitionBy("__fp").orderBy(col(idCol))))
        .where(col("__rn") === 1).drop("__rn"))
      Seq(corpusPath -> admitted.drop("__fp"),
        s"$indexPath/fps" -> admitted.select(col("__fp").as("fp")))
    }
  }

  /** 64-bit SimHash over the normalized token multiset: bit b of the
    * simhash = majority vote of the tokens' xxhash64 bit b.
    *
    * Shape: ONE aggregation with 64 conditional-SUM columns (vote +1 when
    * the token's bit is set, else -1) — all whole-stage-codegen'd, one
    * partial+final shuffle keyed on id. (The naive form — explode 64
    * (doc, bit) vote rows per token — shuffles tokens×64 rows; this one
    * shuffles per-doc partial sums only.) Bit reassembly sums the set
    * bits' powers of two over plain attributes; every partial sum of
    * {2^0..2^62} ∪ {-2^63} stays within Long range, so it is
    * overflow-free even under ANSI mode.
    */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = spreadBy(docs.select(id.as("id"), text.as("text")),
        col("id"))
      .select(col("id"),
        explode(split(normalizeText(col("text")), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = toks.groupBy("id").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as("v0"),
      (1 until 64).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1)
          .otherwise(-1)).as(s"v$b")
      }: _*)
    votes.select(col("id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs. Contract: pairs within Hamming distance
    * `maxHamming` (default 7) of each other, verified by exact shingle
    * Jaccard >= threshold.
    *
    * Banding: the 64-bit simhash is split into FOUR 16-bit chunks, and one
    * side of the self-join additionally probes each chunk's 16 single-bit
    * flips (multi-probe LSH). Two hashes within Hamming distance 7 have, by
    * pigeonhole over 4 chunks, at least one chunk differing in <=1 bit — so
    * the (chunk, probe) scheme has EXACT recall for d<=7, same contract as
    * whole-byte banding, but the join key is (chunk_idx, chunk_val) with
    * 4 x 65,536 distinct values instead of 8 x 256. That cardinality is the
    * whole scale story: byte bands put O(N/256) correlated docs in one
    * bucket (candidate volume O(N²/256) per band — measured 25s at a mere
    * 5k docs); 16-bit chunks cut the per-bucket population ~256-fold for
    * a 17/8 ≈ 2x row-count cost on the probe side. Further notes:
    * (a) band rows are skinny (id + simhash only, no shingle payload),
    * (b) the Hamming cut `bit_count(xor) <= maxHamming` is applied INSIDE
    * the join condition, so wide-distance candidates die before any
    * shuffle/dedup, and only survivors fetch their shingle sets for the
    * exact verify,
    * (c) `maxDf` optionally drops chunk values shared by more than that
    * many docs (hot buckets on pathological corpora — e.g. boilerplate
    * that drives many docs to the same simhash region). Recall is then no
    * longer guaranteed exact, so it is default-off; at 100 TB enable it
    * (a pair dense enough to hit the cap has plenty of other chunks).
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   threshold: Double, w: Int = 3,
                   maxHamming: Int = 7,
                   maxDf: Option[Int] = None): DataFrame = {
    require(maxHamming <= 7,
      s"simhashPairs: 4-chunk single-bit multi-probe banding has exact " +
        s"recall only for maxHamming <= 7 (got $maxHamming)")
    val hashed = simhash(docs, id, text)
    // exact side: 4 rows/doc, one per 16-bit chunk
    val banded0 = hashed.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map { c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL)
      }: _*)).as(Seq("band_idx", "band_val")))
    val banded = maxDf match {
      case Some(cap) =>
        val hot = banded0.groupBy("band_idx", "band_val")
          .agg(count(lit(1)).as("df")).where(col("df") <= cap)
        banded0.join(hot.select("band_idx", "band_val"),
          Seq("band_idx", "band_val"))
      case None => banded0
    }
    // probe side: each chunk value plus its 16 single-bit flips (17 rows per
    // chunk). band_val is a materialized generator output, so the flip
    // expressions are cheap XORs over a bound attribute — no re-inlining.
    val probed = banded.select(col("id"), col("simhash"), col("band_idx"),
      explode(array(col("band_val") +:
        (0 until 16).map(b => col("band_val").bitwiseXOR(lit(1L << b))): _*))
        .as("probe_val"))
    // symmetric: hamming(chunk_a, chunk_b) <= 1 iff a's probe set contains
    // b's exact value, so probing one side with a.id < b.id loses no pairs
    val cand = probed.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.probe_val") === col("b.band_val") &&
        col("a.id") < col("b.id") &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyWithShingles(cand, shingleFrame(docs, id, text, w), threshold)
  }

  /** Connected components over a near-dup pair graph: every vertex ends
    * with `component` = the MINIMUM id reachable from it, i.e. the pair
    * detectors' output becomes dedup DECISIONS (keep component == id,
    * drop the rest).
    *
    * Algorithm: iterative min-label propagation — each round every vertex
    * takes min(own label, neighbors' labels); fixpoint when no label
    * changes. Rounds needed = graph diameter, and near-dup clusters are
    * shallow (a cluster of k near-identical docs is almost a clique), so
    * 2-4 rounds in practice; `maxIter` bounds pathological chains. Each
    * round is one join + one aggregate keyed on id — all-distributed,
    * nothing driver-side except the convergence counter (an O(1) count
    * per round, the standard Pregel-style driver loop). For graphs whose
    * diameter makes diameter-many rounds prohibitive, use
    * `connectedComponentsStar` below — O(log²) rounds independent of
    * diameter, same contract.
    *
    * Output: (id, component) for every vertex present in `pairs`.
    */
  def connectedComponents(pairs: DataFrame,
                          maxIter: Int = 20): DataFrame = scoped {
    // symmetric edge list via a generator (a two-projection union would
    // evaluate the upstream pair DETECTOR twice — explode runs it once)
    val edges = materialize(pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()) // iterated over: cut lineage once
    // `frontier` is always THE materialized frame (so unpersist hits the
    // actual cached blocks, not a derived projection); `labels` is its
    // (id, component) view
    var frontier = materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var labels = frontier
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nbr_min"))
      // each round's result is materialized once: the next round (and
      // the convergence count) must not re-run the whole chain
      frontier = advance(frontier, labels.join(neighborMin, Seq("id"))
        .select(col("id"), least(col("component"), col("nbr_min"))
          .as("component"),
          (col("nbr_min") < col("component")).as("changed")))
      converged = frontier.where(col("changed")).limit(1).count() == 0
      labels = frontier.select("id", "component")
      iter += 1
    }
    // an unconverged exit would return silently-wrong labels (a cluster
    // could keep two survivors); diameter > maxIter means the corpus is
    // pathological for plain propagation — fail loudly instead
    require(converged,
      s"connectedComponents: not converged after $maxIter rounds " +
        "(pair-graph diameter exceeds maxIter); raise maxIter or use " +
        "connectedComponentsStar for chain-shaped graphs")
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — the high-diameter scale path next to the plain
    * min-propagation above. Plain propagation needs diameter rounds (a
    * 10k-link chain needs 10k joins); star contraction converges in
    * O(log²) rounds regardless of diameter, with the same join+aggregate
    * building blocks per round:
    *
    *   large-star(u): every neighbor v > u re-attaches to
    *     m = min(Γ(u) ∪ {u});
    *   small-star(u): every neighbor v < u, and u itself, re-attach to
    *     m = min over the small neighborhood.
    *
    * Both are one conditional-min aggregate keyed on the center plus one
    * join back to the (skinny, symmetric) edge list — no vertex state, no
    * per-node adjacency arrays, shuffle keys always the high-cardinality
    * node id. Fixpoint detection is EXACT and costs ONE aggregate probe
    * per round: a canonical (hi, lo) edge set is a fixpoint of
    * large∘small iff it is a STAR FOREST — no node appears as both a
    * child (hi) and a root (lo), and no child has two roots (hi appears
    * once). Star forest ⇒ both steps re-emit the set unchanged (root r's
    * large-star re-attaches every child to r; each child's small-star
    * re-emits (child, r)); non-star ⇒ the next round rewires something.
    * The probe also stops one round EARLIER than comparing against the
    * previous round's edges (an `except`-based test only notices a round
    * AFTER the one that landed on the star forest).
    *
    * Same contract as `connectedComponents`: (id, component = min
    * reachable id) for every vertex in `pairs`; the spec cross-checks the
    * two on graphs where both converge, and pins a 200-link chain that
    * plain propagation (maxIter=20) refuses.
    */
  def connectedComponentsStar(pairs: DataFrame,
                              maxIter: Int = 50): DataFrame = scoped {
    // every vertex of the ORIGINAL pair list (before self-pair removal),
    // so the output contract matches `connectedComponents` exactly
    val vertices = materialize(pairs.select(
      explode(array(col("id_a"), col("id_b"))).as("id")).distinct())
    // canonical directed form (hi, lo): both star steps emit (x, m) with
    // m < x, so edges stay canonical across rounds
    var edges = materialize(pairs
      .where(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .distinct())
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // symmetric neighbor view (center u, neighbor v)
      def sym(e: DataFrame): DataFrame =
        e.select(col("hi").as("u"), col("lo").as("v"))
          .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      // ---- large-star: (v, m_u) for v > u, m_u = min(Γ(u) ∪ {u}) ----
      val s1 = sym(edges)
      val largeMin = s1.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      // no distinct here: duplicate (hi, lo) rows (the same re-attach
      // emitted from different centers) don't change the small-star MIN
      // aggregate below, and the round-final distinct on afterSmall
      // restores set semantics — one fewer full edge-set shuffle per
      // round (locally noise-neutral; at cluster scale each avoided
      // shuffle is a full pass over 10^9-edge rounds)
      val afterLarge = s1.join(largeMin, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // ---- small-star: (v, m_u) for v < u plus (u, m_u), over Γ⁻ ----
      // one materialization per FULL round: the large half is consumed
      // exactly once right here, so checkpointing it separately would
      // only add a job and a snapshot to release
      val s2 = sym(afterLarge)
      val smallMin = s2.where(col("v") < col("u")).groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val afterSmall = materialize(
        s2.where(col("v") < col("u")).join(smallMin, Seq("u"))
          .select(col("v"), col("m"))
          .where(col("v") =!= col("m"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .unionAll(smallMin.where(col("u") =!= col("m"))
            .select(col("u").as("hi"), col("m").as("lo")))
          .distinct())
      // exact fixpoint via the star-forest characterization (see the
      // scaladoc): one aggregate over the freshly-checkpointed skinny
      // frame — no count job, no except-join against the previous round.
      // A node failing the test either parents one edge while being a
      // child of another (nh>0 && nl>0: a 2-level chain the next round
      // contracts) or has two parents (nh>1: impossible at a fixpoint,
      // small-star would merge them).
      val offenders = afterSmall
        .select(col("hi").as("node"), lit(1L).as("h"), lit(0L).as("l"))
        .unionAll(afterSmall
          .select(col("lo").as("node"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy("node")
        .agg(sum(col("h")).as("nh"), sum(col("l")).as("nl"))
        .where(col("nh") > 1 || (col("nh") > 0 && col("nl") > 0))
      converged = offenders.limit(1).count() == 0
      release(edges)
      edges = afterSmall
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar: not converged after $maxIter rounds")
    // star forest: every hi points at its component min; roots (and any
    // vertex with no remaining edge, e.g. a self-pair-only vertex) label
    // themselves. `edges`/`vertices` back this result lazily, so they
    // escape the scope with it.
    vertices.as("vtx")
      .join(edges.select(col("hi").as("eid"), col("lo").as("component")),
        col("vtx.id") === col("eid"), "left")
      .select(col("vtx.id").as("id"),
        coalesce(col("component"), col("vtx.id")).as("component"))
  }

  /** End-to-end near-dup dedup decision per document: detect pairs (any
    * detector with the (id_a, id_b, …) contract), cluster them, and
    * assign every doc its cluster SURVIVOR (min doc id of the component;
    * docs in no pair survive as themselves). The downstream filter is
    * `where(survivor_id === id)` — the near-dup analogue of
    * `priorityDedup`'s keep-first rule. */
  def nearDupSurvivors(docs: DataFrame, id: Column, pairs: DataFrame,
                       cc: DataFrame => DataFrame =
                         connectedComponents(_)): DataFrame = {
    val comp = cc(pairs)
    docs.select(id.as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("survivor_id"))
  }

  /** Exact-Jaccard verification: candidate (id_a, id_b) pairs re-acquire
    * their shingle arrays from the shingle frame (a semi-join reduction —
    * only candidate ids fetch arrays, same trick as the reference's
    * distinct-before-API-call), then |A∩B| via array_intersect per pair.
    *
    * Shape: candidates are MELTED to (pair, role, id) rows so the shingle
    * frame is joined exactly ONCE — the naive two-joins-per-side form
    * embeds the whole shingle-postings pipeline (explode + windows +
    * two aggregations over the full corpus) multiple times in the plan,
    * and when exchange reuse doesn't cover all copies the corpus-wide
    * stage runs again per copy (measured: the dominant cost of the 50k
    * weak-scaling probe). After the single join, a pair-keyed aggregate
    * reassembles (sh_a, sh_b); the size gate min >= t*max (implied by
    * J >= t since |A∩B| <= min(|A|,|B|)) skips the intersect for
    * hopeless pairs. */
  private def verifyWithShingles(cand: DataFrame, sh: DataFrame,
                                 threshold: Double): DataFrame =
    cand
      .select(col("id_a"), col("id_b"),
        explode(array(
          struct(lit("a").as("role"), col("id_a").as("id")),
          struct(lit("b").as("role"), col("id_b").as("id")))).as("m"))
      .select(col("id_a"), col("id_b"), col("m.role").as("role"),
        col("m.id").as("id"))
      .join(sh, Seq("id"))
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("role") === "a", col("sh")), ignoreNulls = true)
          .as("sh_a"),
        first(when(col("role") === "b", col("sh")), ignoreNulls = true)
          .as("sh_b"))
      .where(least(size(col("sh_a")), size(col("sh_b"))) >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))))
      // codegen'd sort-merge count — see probeCorpus (r13)
      .withColumn("inter", graft.functions.VectorExpressions
        .intersectCountLong(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
}
