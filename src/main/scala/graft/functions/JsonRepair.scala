package graft.functions

/** F16 — the reference's 4-stage JSON repair ladder for LLM responses
  * (`llm_api.py:23-86`):
  *
  *   1. strip ``` fences → parse whole string as JSON
  *   2. else: extract the first {...} block → parse
  *   3. else: per-field regex `"field"\s*:\s*"([^"]*)"`
  *   4. else: whole text becomes the `summary` field
  *   plus defaults for any still-missing field (`llm_api.py:24-27`).
  *
  * Implemented as one deterministic Scala function (unit-testable, total —
  * never throws) that the X2 extraction stage calls per response. Plain
  * Scala is acceptable here per SURVEY.md §4.2: `from_json` covers only
  * stage 1, and the ladder runs once per LLM response (the X2 stage is
  * network-bound, not CPU-bound).
  */
object JsonRepair {

  /** Minimal recursive-descent extraction of top-level string/number fields
    * from a JSON object text. Not a full JSON parser — it only needs the
    * flat `{"field": "value", ...}` shape the LLM prompt demands, which is
    * exactly what the reference's `json.loads` consumes on that shape. */
  private def parseFlatJson(s: String): Option[Map[String, String]] = {
    val t = s.trim
    if (!t.startsWith("{") || !t.endsWith("}")) return None
    val body = t.substring(1, t.length - 1)
    val kv = """"((?:[^"\\]|\\.)*)"\s*:\s*("((?:[^"\\]|\\.)*)"|-?\d+(?:\.\d+)?|true|false|null)""".r
    val found = kv.findAllMatchIn(body).map { m =>
      val key = unescape(m.group(1))
      val raw = m.group(2)
      val value =
        if (m.group(3) != null) unescape(m.group(3))
        else if (raw == "null") ""
        else raw
      key -> value
    }.toMap
    if (found.isEmpty) None else Some(found)
  }

  /** Single left-to-right pass so a literal backslash-n sequence (`\\n` in
    * the source text) decodes to backslash + 'n', not a newline — chained
    * String.replace calls get this wrong (`llm_api.py` decodes via
    * json.loads, which is also a single pass). */
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'  => sb.append('\n')
          case 't'  => sb.append('\t')
          case 'r'  => sb.append('\r')
          case '"'  => sb.append('"')
          case '\\' => sb.append('\\')
          case '/'  => sb.append('/')
          case other => sb.append('\\').append(other)
        }
        i += 2
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** The full repair ladder. `fields` fixes the output schema; `defaults`
    * fills anything unrecoverable (reference `llm_api.py:24-27`). The first
    * field plays the reference's `ai_summary` whole-text-fallback role
    * (`llm_api.py:79-81`). */
  def repair(text: String, fields: Seq[String],
             defaults: Map[String, String] = Map.empty): Map[String, String] = {
    val dflt = fields.map(f => f -> defaults.getOrElse(f, "")).toMap
    if (text == null || text.trim.isEmpty) return dflt
    // stage 1: strip markdown fences, try whole-string parse
    val unfenced = text.trim
      .replaceAll("^```(?:json)?\\s*", "").replaceAll("\\s*```$", "").trim
    val stage1 = parseFlatJson(unfenced)
    // stage 2: first {...} block anywhere in the text
    val stage2 = stage1.orElse {
      val m = """\{[\s\S]*\}""".r.findFirstIn(unfenced)
      m.flatMap(parseFlatJson)
    }
    // stage 3: per-field regex recovery — quoted values first, then the
    // reference's unquoted-value pattern (`llm_api.py:64-76` tries both)
    val stage3 = stage2.orElse {
      val perField = fields.flatMap { f =>
        // escape-aware value grammar + the SAME unescape as stages 1-2,
        // so which ladder stage fires never changes a recovered value
        // (and an escaped quote inside the value no longer truncates it)
        val quotedR = ("\"" + java.util.regex.Pattern.quote(f) +
          "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        val bareR = ("\"" + java.util.regex.Pattern.quote(f) +
          "\"\\s*:\\s*([^,}\\s\"]+)").r
        quotedR.findFirstMatchIn(unfenced)
          .map(m => f -> unescape(m.group(1)))
          .orElse(bareR.findFirstMatchIn(unfenced).map(m => f -> m.group(1)))
      }.toMap
      if (perField.isEmpty) None else Some(perField)
    }
    stage3 match {
      case Some(m) => dflt ++ m.filter { case (k, _) => fields.contains(k) }
      // stage 4: whole text becomes the summary (first) field, but only
      // under the reference's conditions (`llm_api.py:79-81`): the text is
      // not itself a failed JSON object (doesn't start with '{') and is
      // long enough to be a plausible summary (>10 chars)
      case None =>
        if (!unfenced.startsWith("{") && unfenced.length > 10)
          dflt + (fields.head -> unfenced)
        else dflt
    }
  }
}
