package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.{Enrich, Events, HttpClients}

/** Singleton so executor-side deserialization lands on the same instance
  * (local mode = one JVM) and the call count is observable from the test. */
object CountingMetricsClient extends Enrich.MetricsClient {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  def fetch(j: String): (Double, String) = {
    calls.incrementAndGet()
    Enrich.StubMetricsClient.fetch(j)
  }
}

/** Metrics endpoint stand-in: the first request for each journal answers
  * 503, the second answers the stub's values. */
object FlakyMetricsTransport extends HttpClients.HttpTransport {
  val sends = new java.util.concurrent.atomic.AtomicInteger(0)
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val served = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  def reset(): Unit = { sends.set(0); attempts.clear(); served.clear() }
  def send(method: String, url: String, headers: Map[String, String],
           body: Option[String], timeoutMillis: Int): (Int, String) = {
    sends.incrementAndGet()
    val j = java.net.URLDecoder.decode(
      url.substring(url.indexOf("publication=") + 12), "UTF-8")
    if (attempts.merge(j, 1, _ + _) == 1) (503, "busy")
    else {
      served.merge(j, 1, _ + _)
      val (ifact, q) = Enrich.StubMetricsClient.fetch(j)
      (200, s"""{"impact_factor": $ifact, "quartile": "$q"}""")
    }
  }
}

class EventsEnrichSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val ev = Seq(
    (1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 10:20:00"), 7L, "click", 2.0),
    (3L, ts("2024-01-01 10:59:59"), 7L, "view", 4.0),
    (4L, ts("2024-01-01 11:00:00"), 7L, "click", 8.0),   // next hour
    (5L, ts("2024-01-01 11:35:00"), 9L, "click", 16.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumbling windows bucket by event-time hour") {
    val r = Events.tumbling(ev)
      .orderBy("window_start", "event_type")
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect()
    assert(r === Seq(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 10:00:00", "view", 1L, 4.0),
      ("2024-01-01 11:00:00", "click", 2L, 24.0)))
  }

  test("sliding windows: each event lands in width/slide windows") {
    val one = ev.where(col("event_id") === 1) // 10:05
    val r = Events.sliding(one).select(col("window_start").cast("string"))
      .as[String].collect().sorted
    assert(r === Seq("2024-01-01 09:15:00", "2024-01-01 09:30:00",
      "2024-01-01 09:45:00", "2024-01-01 10:00:00"))
  }

  test("session windows split on >= gap inactivity, end = last + gap") {
    val r = Events.sessions(ev)  // 30 min gap
      .orderBy("user_id", "session_start")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect()
    // user 7: events at 10:05, 10:20, 10:59:59, 11:00 -> gap 10:20->10:59:59
    // is 39:59 > 30min -> two sessions
    assert(r === Seq(
      (7L, "2024-01-01 10:05:00", "2024-01-01 10:50:00", 2L),
      (7L, "2024-01-01 10:59:59", "2024-01-01 11:30:00", 2L),
      (9L, "2024-01-01 11:35:00", "2024-01-01 12:05:00", 1L)))
  }

  test("journalMetrics: one fetch per distinct key, broadcast back (X1)") {
    CountingMetricsClient.calls.set(0)
    val df = Seq(("a", "Journal One"), ("b", "journal one "),
      ("c", "Other"), ("d", null.asInstanceOf[String]))
      .toDF("id", "journal")
    val out = Enrich.journalMetrics(df, "journal", CountingMetricsClient)
    assert(out.count() === 4)
    // "Journal One" and "journal one " normalize to the same key
    assert(CountingMetricsClient.calls.get() === 2)
    val nullRow = out.where(col("id") === "d").select("impact_factor")
    assert(nullRow.head().isNullAt(0)) // left join: no metrics for null key
  }

  test("journalMetrics property: one fetch per distinct non-empty key and " +
    "the broadcast-join rows, under 1 and 7 shuffle partitions (X1)") {
    import org.apache.spark.sql.DataFrame
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the former distinct-key → fetch → broadcast left join, kept as the
    // oracle
    def oracle(df: DataFrame): DataFrame = {
      val dim = df.select(lower(trim(col("journal"))).as("journal_norm"))
        .where(col("journal_norm").isNotNull && col("journal_norm") =!= "")
        .distinct().as[String]
        .map { j => val (i, q) = Enrich.StubMetricsClient.fetch(j); (j, i, q) }
        .toDF("journal_norm", "impact_factor", "quartile")
      df.withColumn("journal_norm", lower(trim(col("journal"))))
        .join(broadcast(dim), Seq("journal_norm"), "left")
    }
    val journal = Gen.oneOf(null: String, "", "  ", "Nature", " nature",
      "NATURE  ", "Cell", "cell ", "Science")
    val frameGen = for {
      n <- Gen.choose(0, 40)
      js <- Gen.listOfN(n, journal)
    } yield js.zipWithIndex.map { case (j, i) => (i.toLong, j) }
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.getAs[Long]("id"))
    val prop = Prop.forAll(frameGen) { in =>
      val df = in.toDF("id", "journal")
      val keys = in.flatMap { case (_, j) => Option(j) }
        .map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
      CountingMetricsClient.calls.set(0)
      val out = Enrich.journalMetrics(df, "journal", CountingMetricsClient)
      val got = rows(out)
      val want = oracle(df)
      CountingMetricsClient.calls.get() == keys.distinct.size &&
        out.schema.map(f => f.name -> f.dataType) ==
          want.schema.map(f => f.name -> f.dataType) &&
        got == rows(want)
    }
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try Seq("1", "7").foreach { n =>
      spark.conf.set(key, n)
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
      assert(res.passed, s"shuffle partitions $n: ${res.status}")
    } finally spark.conf.set(key, prev)
  }

  test("llmExtract splats repaired fields, empty input short-circuits (X2)") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, ""), (3L, null.asInstanceOf[String])).toDF("id", "text")
    val out = Enrich.llmExtract(df, "text", Seq("summary", "n_words"),
      Enrich.StubLlmClient, Map("n_words" -> "0"))
      .orderBy("id")
      .select("summary", "n_words").as[(String, String)].collect()
    assert(out(0)._1 === "alpha beta gamma delta epsilon zeta eta theta")
    assert(out(0)._2 === "9")
    assert(out(1) === (("", "0"))) // defaults, no client call
    assert(out(2) === (("", "0")))
  }

  test("llmExtractWithTemplate: template drives schema, defaults, prompt (X3→X2)") {
    import graft.operators.PromptTemplates
    val tpl = PromptTemplates.fromYaml(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/repo/fixtures/template_sample.yaml")))
    val df = Seq(
      (1L, "alpha \"quoted\" beta gamma"), // quotes survive escape+unescape
      (2L, ""), (3L, null.asInstanceOf[String])).toDF("id", "text")
    val out = Enrich.llmExtractWithTemplate(df, "text", tpl,
        Enrich.StubTemplateChatClient(tpl))
      .orderBy("id").select("summary", "methods")
      .as[(String, String)].collect()
    // columns + defaults came from the template, nothing named in code
    assert(out(0) === (("alpha \"quoted\" beta gamma", "methods:4")))
    assert(out(1) === (("", "not stated"))) // template defaults, no call
    assert(out(2) === (("", "not stated")))
    // a client expecting a DIFFERENT template rejects the prompt: the
    // stub pins that the messages were built from THIS template
    val other = tpl.copy(system = "different system prompt")
    val tampered = Enrich.llmExtractWithTemplate(df, "text", tpl,
        Enrich.StubTemplateChatClient(other))
      .orderBy("id").select("summary", "methods")
      .as[(String, String)].collect()
    assert(tampered(0) === (("", "not stated")))
  }

  test("reference medical.yaml shape loads and drives extraction (X3→X2)") {
    import graft.operators.PromptTemplates
    val p = java.nio.file.Paths.get("fixtures/config/prompts/medical.yaml")
    val tpl = PromptTemplates.fromYaml(java.nio.file.Files.readString(p))
    assert(tpl.templateType === "medical")
    assert(tpl.fields === Seq("ai_summary", "research_purpose",
      "research_methods", "major_findings", "clinical_significance"))
    assert(tpl.defaults.keySet === tpl.fields.toSet)
    val msgs = tpl.messages("ABSTRACT HERE")
    assert(msgs.head._1 === "system" && msgs(1)._2.contains("ABSTRACT HERE"))
    val out = Enrich.llmExtractWithTemplate(
      Seq((1L, "one two three")).toDF("id", "text"), "text", tpl,
      Enrich.StubTemplateChatClient(tpl))
    assert(out.columns.toSeq.drop(2) === tpl.fields) // all five ai_* columns
    val row = out.select(tpl.fields.map(col): _*).head()
    assert(row.getString(0) === "one two three")
    assert(row.getString(1) === "research_purpose:3")
  }

  test("journalMetricsThrottled: bucket + retry wrap the per-key fetch") {
    // throttle + retry live in the HTTP client's config; the fake
    // transport fails each key's first request with a 503
    FlakyMetricsTransport.reset()
    val df = Seq(("a", "J One"), ("b", "J Two"), ("c", "J One"))
      .toDF("id", "journal")
    val client = new HttpClients.HttpMetricsClient(
      HttpClients.HttpConfig("http://metrics.invalid/m", ratePerSec = 1000.0,
        retryBaseMillis = 1),
      FlakyMetricsTransport)
    val out = Enrich.journalMetrics(df, "journal", client)
    assert(out.count() === 3)
    // distinct keys only: one successful fetch per key, after one retry
    assert(FlakyMetricsTransport.served.asScala.toMap ===
      Map("j one" -> 1, "j two" -> 1))
    assert(FlakyMetricsTransport.sends.get() === 4)
    assert(out.where(col("impact_factor").isNotNull).count() === 3)
  }

  test("filterAbstracts: conditional guard (P2)") {
    import graft.sources.BibSources
    val some = Seq((1, "abs"), (2, null.asInstanceOf[String]))
      .toDF("id", "abstract")
    assert(BibSources.filterAbstracts(some).count() === 1)
    val none = Seq((1, null.asInstanceOf[String]),
      (2, null.asInstanceOf[String])).toDF("id", "abstract")
    assert(BibSources.filterAbstracts(none).count() === 2) // passthrough
  }
}
