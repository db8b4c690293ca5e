package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("nfc: composes decomposed sequences, idempotent, null-safe, and " +
    "makes canonically-equivalent texts collide in exact dedup") {
    import graft.functions.UnicodeExpressions.nfc
    val nfd = "cafe\u0301"            // NFD: e + combining acute
    val composed = "caf\u00e9"        // NFC precomposed
    val df = Seq(
      (1L, nfd),
      (2L, composed),
      (3L, "plain ascii"),            // fast path: returned as-is
      (4L, null.asInstanceOf[String]),
      (5L, "o\u0308 a\u030a")         // two decomposed marks
    ).toDF("id", "t")
    val got = df.select(col("id"), nfc(col("t")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === composed)
    assert(got(2L) === composed)
    assert(got(3L) === "plain ascii")
    assert(got(4L) === null)
    assert(got(5L) === "\u00f6 \u00e5")
    // idempotent: nfc(nfc(x)) == nfc(x)
    assert(df.select(nfc(nfc(col("t"))).as("n")).as[String].collect().toSeq
      === df.select(nfc(col("t")).as("n")).as[String].collect().toSeq)
    // the composition the expression exists for: NFD and NFC spellings
    // of the same text must land in ONE exact-dedup group
    val surv = graft.operators.Dedup.exactDedup(
      Seq((1L, nfd), (2L, composed)).toDF("doc_id", "text"),
      nfc(col("text")), col("doc_id")).collect()
    assert(surv.length === 1)
    assert(surv(0).getAs[Long]("n_copies") === 2L)
    assert(surv(0).getAs[Long]("survivor_id") === 1L)
  }

  test("token counts: whitespace and BPE-ish") {
    val r = Seq("hello world", "one, two!  three", "", "   ")
      .toDF("t")
      .select(TextAnalysis.wsTokenCount(col("t")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("t")).as("bpe"))
      .as[(Int, Int)].collect()
    assert(r(0) === ((2, 2)))
    assert(r(1) === ((3, 5)))     // one , two ! three
    assert(r(2) === ((0, 0)))
    assert(r(3) === ((0, 0)))
  }

  test("degenerate text yields nulls, not ANSI errors (ADVICE r1)") {
    val r = Seq("", "   ", "!!!")
      .toDF("t")
      .select(TextAnalysis.avgWordLen(col("t")).as("a"),
        TextAnalysis.punctRatio(col("t")).as("p"),
        TextAnalysis.qualityScore(col("t")).as("q"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(!r(0).isNullAt(2)) // quality still defined (0.0)
    assert(r(2).getDouble(1) === 1.0) // "!!!" all punctuation
  }

  test("quality score components") {
    val good = ("the quick brown fox is a fine animal and it jumps " * 4).trim
    val r = Seq(good).toDF("t")
      .select(TextAnalysis.qualityScore(col("t"))).as[Double].head()
    assert(r === 1.0) // long enough, low punct, stopwords, sane word length
  }

  test("langId picks the argmax marker language, und when no markers") {
    val r = Seq(
      "the cat and the dog of the house",
      "el perro de la casa que los gatos",
      "le chat est dans les maisons des gens",
      "der hund ist mit das und ein katze",
      "zzz qqq www")
      .toDF("t").select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(r === Seq("en", "es", "fr", "de", "und"))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val r = Seq("Hello   World", "hello world").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).as[String].collect()
    assert(r(0) === r(1))
  }

  test("SQL surface: registered graft_* functions equal the Column API") {
    val row = spark.sql(
      """SELECT graft_fingerprint(' A   b ') AS fp,
        |       graft_normalize_text(' A   b ') AS nt,
        |       graft_redact_pii('mail a@b.co or +1 555-123-4567') AS red
        |""".stripMargin).head()
    val expect = Seq(" A   b ").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).as[String].head()
    assert(row.getString(0) === expect)
    assert(row.getString(1) === "a b")
    assert(row.getString(2) === "mail <EMAIL> or <PHONE>")
    // the native NfcNormalize expression reaches SQL too
    assert(spark.sql("SELECT graft_nfc('cafe\u0301')").head().getString(0)
      === "caf\u00e9")
    // arity misuse is rejected at registration-builder level
    intercept[Exception] { spark.sql("SELECT graft_fingerprint('a','b')") }
  }

  test("chunkDocs: stride coverage, short tail, single chunk for short " +
    "and empty docs, stable keys") {
    val docs = Seq(
      (1L, "a" * 450),  // 3 chunks at C=200/S=150: tail is 150 long
      (2L, "b" * 150),  // shorter than one chunk -> exactly 1 chunk
      (3L, "")          // empty -> 1 empty chunk, doc still covered
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text", 200, 150)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Int, String)].collect()
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(r => (r._2, r._3, r._4.length)).toSeq ===
      Seq((0, 0, 200), (1, 150, 200), (2, 300, 150)))
    // consecutive chunks overlap by C - S = 50 chars
    assert(d1(0)._4.takeRight(50) === d1(1)._4.take(50))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, 0, "b" * 150)))
    assert(out.filter(_._1 == 3L).toSeq === Seq((3L, 0, 0, "")))
    // non-overlapping stride reassembles the original exactly
    val whole = TextAnalysis.chunkDocs(docs, "doc_id", "text", 150, 150)
      .orderBy("doc_id", "chunk_idx").as[(Long, Int, Int, String)]
      .collect().filter(_._1 == 1L).map(_._4).mkString
    assert(whole === "a" * 450)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(docs, "doc_id", "text", 100, 200)
    }
  }

  test("gopherFlags: each rule fires on its designed violation and " +
    "passes on clean prose") {
    val clean = "the quick brown fox jumps over the lazy dog and then " +
      "it runs to a tall hill where this old friend of that fox waits " +
      "for it with a long list of plans in a small bag by an oak tree " +
      "so they talk for hours about all of it and the day ends well " +
      "with a calm walk home in the dark as the stars come out on time"
    val cases = Seq(
      ("ok", clean),
      ("short", "too few words here"),                  // r_word_count
      ("syms", clean + " " + ("### " * 30)),            // r_symbol_ratio
      ("bullets", "- a\n- b\n- c\n- d\n- e"),           // r_bullet_lines
      ("ellipsis", "the end is near...\nand so..."),    // r_ellipsis_lines
      ("numeric", clean + " " + (1 to 80).map(_.toString) // r_alpha_words
        .mkString(" ")),
      ("nostop", (1 to 30).map(i => s"tok$i").mkString(" "))) // r_stopwords
    val df = cases.toDF("name", "t")
    val flags = TextAnalysis.gopherFlags(col("t"), minWords = 20,
      maxWords = 90)
    val out = df.select(col("name") +:
        flags.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getString(0) ->
        flags.indices.map(i => r.getBoolean(i + 1))).toMap
    val names = flags.map(_._1)
    assert(out("ok").forall(identity), s"clean prose failed ${
      names.zip(out("ok")).filterNot(_._2).map(_._1)}")
    def failed(k: String): Set[String] =
      names.zip(out(k)).filterNot(_._2).map(_._1).toSet
    assert(failed("short").contains("r_word_count"))
    assert(failed("syms").contains("r_symbol_ratio"))
    assert(failed("bullets").contains("r_bullet_lines"))
    assert(failed("ellipsis").contains("r_ellipsis_lines"))
    assert(failed("numeric").contains("r_alpha_words"))
    assert(failed("nostop").contains("r_stopwords"))
  }

  test("differential: chunkDocs agrees with a driver-side reference on " +
    "seeded random texts across (chunk, stride) configs") {
    val rnd = new scala.util.Random(20260813L)
    val texts = (0 until 30).map { i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(700)).mkString)
    }
    val df = texts.toDF("doc_id", "text")
    for ((c, s) <- Seq((200, 150), (100, 100), (64, 1))) {
      def ref(t: String): Seq[(Int, Int, String)] = {
        val starts = 0 to math.max(t.length - 1, 0) by s
        starts.zipWithIndex.map { case (st, idx) =>
          (idx, st, t.substring(st, math.min(st + c, t.length)))
        }
      }
      val got = TextAnalysis.chunkDocs(df, "doc_id", "text", c, s)
        .orderBy("doc_id", "chunk_idx")
        .as[(Long, Int, Int, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).toSeq)
      texts.foreach { case (id, t) =>
        assert(got(id) === ref(t), s"(c=$c, s=$s) diverged on doc $id")
      }
    }
  }

  test("datacard rollup total reconciles with per-source rows; hash split " +
    "lands near 80/10/10 and is deterministic") {
    val dir = "/root/testdata/sf0.001"
    val dc = SparkEntry.queries("q_corpus_datacard")(spark, dir).collect()
    val total = dc.filter(_.isNullAt(0)).head
    val parts = dc.filterNot(_.isNullAt(0))
    assert(parts.nonEmpty)
    assert(total.getLong(1) === parts.map(_.getLong(1)).sum) // n_docs
    assert(total.getLong(2) === parts.map(_.getLong(2)).sum) // n_tokens
    assert(total.getLong(3) === parts.map(_.getLong(3)).sum) // n_chars
    // uniqueness is NOT additive across sources (cross-source dups) —
    // the global count can only be bounded by the per-source sum
    assert(total.getLong(4) <= parts.map(_.getLong(4)).sum)
    assert(total.getLong(5) === parts.map(_.getLong(5)).sum) // quality
    assert(total.getLong(5) > 0 && total.getLong(5) < total.getLong(1))

    val sp = SparkEntry.queries("q_split_assign")(spark, dir)
    val counts = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    assert(counts("val") / n > 0.04 && counts("val") / n < 0.16)
    assert(counts("test") / n > 0.04 && counts("test") / n < 0.16)
    // determinism: the same id draws the same split on re-evaluation
    assert(sp.collect().toSeq ===
      SparkEntry.queries("q_split_assign")(spark, dir).collect().toSeq)
  }

  test("tfidfCosineTopK: identical docs at cos~1, shared-rare-term " +
    "ranking, disjoint docs never pair, maxDf drops hot terms") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "Alpha  beta GAMMA"), // normalizes identically to 1
      (3L, "alpha beta delta"),  // shares 2 of 3 terms with 1/2
      (4L, "zulu yankee")        // vocabulary-disjoint
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfCosineTopK(docs, col("doc_id"),
        col("text"), k = 3, maxDf = 1000L)
      .select("doc_a", "doc_b", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect()
    // disjoint doc 4 appears nowhere (no shared term → no candidate)
    assert(!r.exists(x => x._1 == 4L || x._2 == 4L))
    val byA = r.groupBy(_._1).view.mapValues(_.sortBy(_._4)).toMap
    // identical docs: mutual rank-1 at cos within an ulp of 1
    assert(byA(1L).head._2 === 2L && math.abs(byA(1L).head._3 - 1.0) < 1e-12)
    assert(byA(2L).head._2 === 1L)
    // the partial overlap ranks below the identical pair on both sides
    assert(byA(1L)(1)._2 === 3L && byA(1L)(1)._3 < byA(1L).head._3)
    assert(byA(3L).map(_._2).toSet === Set(1L, 2L))
    // maxDf = 2 drops alpha/beta (df 3): doc 3 shares nothing with 1/2
    // anymore (delta is its own), the identical pair survives on gamma
    val capped = TextAnalysis.tfidfCosineTopK(docs, col("doc_id"),
        col("text"), k = 3, maxDf = 2L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === Set(1L -> 2L, 2L -> 1L))
    intercept[IllegalArgumentException] {
      TextAnalysis.tfidfCosineTopK(docs, col("doc_id"), col("text"),
        k = 0)
    }
  }
}
