package perfbench

import org.apache.spark.sql.functions.col

import graft.operators.{Enrich, HttpClients}

class MockSpec extends SparkSuite {
  test("the mock's request and retry counts are exact on a tiny input") {
    val server = new MockServer(threads = 2, serviceNanos = 100000L, faultEvery = 5)
    try {
      import spark.implicits._
      val journals = Seq("alpha", "beta", "gamma", "delta", "epsilon", "alpha ")
      val abstracts = Seq("one two three", "four five", "six seven eight nine",
        "ten", "eleven twelve", null)
      val df = journals.zip(abstracts).toDF("journal", "abstract")
      val cfg = HttpClients.HttpConfig(server.url("/metrics"), retryBaseMillis = 1)
      val llmCfg = cfg.copy(baseUrl = server.url("/v1/chat/completions"))
      val out = Enrich.llmExtract(
        Enrich.journalMetrics(df, "journal", new HttpClients.HttpMetricsClient(cfg)),
        "abstract", Seq("summary", "n_words"),
        new HttpClients.HttpLlmClient(llmCfg, model = "m", maxTokens = 16))
        .select(col("journal_norm"), col("quartile"), col("summary"), col("n_words"))
        .collect()
      assert(out.length == 6)
      // five distinct journals ("alpha " normalises to "alpha") and five
      // non-empty abstracts are ten logical requests; the fault rule
      // refuses the first attempt of "m:gamma" and "c:one two three",
      // whose retries succeed
      assert(server.metricsRequests.get == 6)
      assert(server.llmRequests.get == 6)
      assert(server.refused.get == 2)
      assert(server.requests.get == 12)
      assert(Seq("m:gamma", "c:one two three").forall(MockServer.faults(_, 5)))
      out.foreach { r =>
        val j = r.getString(0)
        assert(r.getString(1) == Enrich.StubMetricsClient.fetch(j)._2)
      }
      assert(out.map(_.getString(3)).toSet == Set("3", "2", "4", "1", ""))
    } finally server.close()
  }
}
