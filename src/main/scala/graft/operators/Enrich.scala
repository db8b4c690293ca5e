package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.Exec
import graft.functions.JsonRepair

/** External-service operators (SURVEY.md §2.9) — the only parts of the
  * reference whose values come from outside the data:
  *
  *   X1 journal-metrics enrichment (`journal_metrics.py`): one keyed
  *      exchange on the journal, then a per-partition memo; the client's
  *      own throttle and retry (`HttpClients.HttpConfig`) pace the fetches.
  *   X2 per-row LLM extraction (`llm_api.py`): per-abstract completion,
  *      bounded concurrency, retries, JSON-repair of the response.
  *
  * Spark design: clients are injected behind traits so the oracle path uses
  * deterministic pure stubs (SURVEY.md §5.2.5); both operators are one
  * typed `mapPartitions` that appends columns to each row, with state
  * per partition (the memo; a production HTTP client's pool and token
  * bucket) — the lifecycle a per-row UDF cannot give.
  *
  * Scale: X1 hits the service once per DISTINCT key (the reference's
  * module-level memo, `journal_metrics.py:37-39`) and reads its input
  * once. X2 is a straight map over rows — throughput scales with
  * partitions; throttling is per-partition token-bucket so cluster-wide
  * rate = partitions × bucket rate.
  */
object Enrich {

  /** X1 client: journal key → metric values (impact factor, quartile). */
  trait MetricsClient extends Serializable {
    def fetch(journal: String): (Double, String)
  }

  /** Deterministic stub: pure function of the key, SQL-expressible so the
    * whole X1 pipeline is DuckDB-verifiable end to end. */
  object StubMetricsClient extends MetricsClient {
    def fetch(journal: String): (Double, String) = {
      val len = journal.length
      val ifact = (len % 90) / 10.0 + 1.0
      val quartile = "Q" + (1 + len % 4)
      (ifact, quartile)
    }
  }

  /** X1 — journal-metrics enrichment. Output: `journal_norm` (trimmed,
    * lowercased key), the input's columns, `impact_factor`, `quartile`.
    * One hash exchange on the key with an explicit partition count
    * (`Exec.spreadBy`, never AQE-coalesced) puts each key in one
    * partition, whose memo fetches it on its first row: one fetch per
    * distinct key per job, one read of `df`. Null/empty keys make no call
    * and get null metrics. Trade: the rows shuffle once more (a hot
    * journal's rows share a task); the next stage inherits the
    * partitions. */
  def journalMetrics(df: DataFrame, journalCol: String,
                     client: MetricsClient): DataFrame = {
    // journal_norm is a DOCUMENTED output column (the normalized key
    // downstream dedup/reporting reads); a pre-existing one would
    // be silently clobbered, so refuse it loudly
    require(!df.columns.contains("journal_norm"),
      "journalMetrics: input already has a 'journal_norm' column — " +
        "rename it upstream; the operator adds its own")
    val keyed = Exec.spreadBy(df.select(
      lower(trim(col(journalCol))).as("journal_norm"), col("*")), col("journal_norm"))
    appendColumns(keyed, Seq(StructField("impact_factor", DoubleType),
        StructField("quartile", StringType))) { () =>
      val memo = new java.util.HashMap[String, Seq[Any]]
      r => if (r.isNullAt(0) || r.getString(0).isEmpty) Seq(null, null)
        else memo.computeIfAbsent(r.getString(0), { (j: String) =>
          val (ifact, q) = client.fetch(j); Seq(ifact, q) })
    }
  }

  /** X2 client: prompt (built from an abstract) → raw LLM response text. */
  trait LlmClient extends Serializable {
    def complete(abstractText: String): String
  }

  /** JSON string-literal escaping for the stubs: a well-formed client
    * escapes `\` and `"` (and control chars) — without it any quote-bearing
    * abstract silently mis-routes to the regex-repair rung, misrepresenting
    * what a real API client returns. */
  private[operators] def jsonEscape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }

  /** Deterministic stub LLM: emits JSON derived purely from the input (the
    * summary = first 8 whitespace tokens; n_words = token count), sometimes
    * wrapped in markdown fences to exercise the repair ladder — keyed off
    * the text length so behavior is reproducible and SQL-expressible. */
  object StubLlmClient extends LlmClient {
    def complete(abstractText: String): String = {
      val toks = abstractText.trim.split("\\s+").filter(_.nonEmpty)
      val summary = jsonEscape(toks.take(8).mkString(" "))
      val json = s"""{"summary": "$summary", "n_words": "${toks.length}"}"""
      if (abstractText.length % 2 == 0) s"```json\n$json\n```" else json
    }
  }

  /** X2 — per-row LLM field extraction via mapPartitions (SURVEY.md §2.9:
    * external calls need a per-partition client lifecycle — connection
    * pool open/close, bounded in-partition concurrency — which a per-row
    * UDF cannot provide): JSON-repair ladder on each response, one output
    * column per template field. Null/empty inputs short-circuit to
    * defaults without a call (reference `llm_api.py:226-228`). Row
    * identity (not completion order) carries results — no
    * order-restoration step needed, unlike the reference's index map
    * (`llm_api.py:246-258`). */
  def llmExtract(df: DataFrame, textCol: String, fields: Seq[String],
                 client: LlmClient,
                 defaults: Map[String, String] = Map.empty): DataFrame =
    extractFields(df, textCol, fields, defaults)(client.complete)

  /** Shared X2 shape: null/empty short-circuit to defaults, repair ladder
    * on every response, one output string column per field. `call` is
    * all that varies between the plain and template-driven paths. */
  private def extractFields(df: DataFrame, textCol: String,
                            fields: Seq[String],
                            defaults: Map[String, String])
                           (call: String => String): DataFrame = {
    val textIdx = df.schema.fieldIndex(textCol)
    val dflt = fields.map(f => f -> defaults.getOrElse(f, "")).toMap
    appendColumns(df, fields.map(StructField(_, StringType))) { () => r =>
      val text = if (r.isNullAt(textIdx)) null else r.getString(textIdx)
      fields.map(if (text == null || text.trim.isEmpty) dflt
        else JsonRepair.repair(call(text), fields, defaults))
    }
  }

  /** X1's and X2's executor: a typed `mapPartitions` (no action prunes
    * it) appending `added` to every row. `perPartition` runs once per
    * partition (X1's memo, a client's HTTP pool) and returns the values. */
  private def appendColumns(df: DataFrame, added: Seq[StructField])
                           (perPartition: () => Row => Seq[Any]): DataFrame =
    df.mapPartitions { it =>
      val values = perPartition()
      it.map(r => Row.fromSeq(r.toSeq ++ values(r)))
    }(RowEncoder.encoderFor(StructType(df.schema.fields ++ added)))

  /** X2 client in the shape real chat-completion APIs take: the full
    * role-tagged message list, not a bare abstract. The template-driven
    * path (X3→X2) builds the messages; clients never see the template. */
  trait ChatClient extends Serializable {
    def chat(messages: Seq[(String, String)]): String
  }

  /** Deterministic stub chat client that only understands prompts built
    * from `template`: it checks the system message verbatim and recovers
    * the abstract by stripping the template's literal prefix/suffix around
    * the `{abstract}` placeholder. Any structural deviation returns `{}`
    * (every field falls to its default) — so the oracle hash-match on
    * `q_llm_extract_template` pins that `llmExtractWithTemplate` really
    * built the 2-message prompt from the template, not just its schema.
    *
    * Response values (SQL-expressible for the DuckDB oracle): first field
    * = first 8 whitespace tokens of the abstract (the reference's
    * `ai_summary` role); every other field f = "f:<token count>". Fenced
    * on even-length abstracts to exercise the repair ladder, like
    * `StubLlmClient`. */
  final case class StubTemplateChatClient(
      template: PromptTemplates.Template) extends ChatClient {
    def chat(messages: Seq[(String, String)]): String = {
      val parts = template.userTemplate
        .split(java.util.regex.Pattern.quote("{abstract}"), -1)
      val sysOk = messages.headOption.contains("system" -> template.system)
      val user = messages.collectFirst { case ("user", c) => c }.getOrElse("")
      // reconstruct against ALL placeholder occurrences: messages()
      // substitutes every {abstract}, so with N parts the abstract's
      // length is (|user| − Σ|parts|)/(N−1) and the rebuilt template
      // must equal the prompt EXACTLY (the old prefix/parts(1) check
      // rejected correctly built multi-placeholder prompts)
      val nSlots = parts.length - 1
      if (!sysOk || nSlots < 1) return "{}"
      val spare = user.length - parts.map(_.length).sum
      if (spare < 0 || spare % nSlots != 0) return "{}"
      val absLen = spare / nSlots
      val prefix = parts.head
      if (user.length < prefix.length + absLen) return "{}"
      val abs = user.substring(prefix.length, prefix.length + absLen)
      if (parts.mkString(abs) != user) return "{}"
      val toks = abs.trim.split("\\s+").filter(_.nonEmpty)
      val json = template.fields.zipWithIndex.map { case (f, i) =>
        val v = if (i == 0) toks.take(8).mkString(" ")
                else s"$f:${toks.length}"
        s""""${jsonEscape(f)}": "${jsonEscape(v)}""""
      }.mkString("{", ", ", "}")
      if (abs.length % 2 == 0) s"```json\n$json\n```" else json
    }
  }

  /** X3→X2 composition (reference `main.py:309-350` +
    * `prompt_templates.py:128-133,161-167`): the TEMPLATE drives
    * everything — output columns come from `template.fields`, per-field
    * defaults from `template.defaults`, and each row's prompt is the
    * template's 2-message build with the abstract substituted. A user
    * loads `medical.yaml` and gets the reference's five ai_* columns
    * without naming a field in code. */
  def llmExtractWithTemplate(df: DataFrame, textCol: String,
                             template: PromptTemplates.Template,
                             client: ChatClient): DataFrame =
    extractFields(df, textCol, template.fields, template.defaults) { text =>
      client.chat(template.messages(text))
    }
}
