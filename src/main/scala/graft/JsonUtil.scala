package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The one JSON codec: one jackson `ObjectMapper` writes the driver-surface
  * JSON (Verify's oracle_sql.json, Bench's one-line report) and the stage
  * manifests, and parses the manifests back. Jackson escapes the quote,
  * the backslash and ALL control chars (< 0x20): a tab or CR in
  * builder-authored SQL or an exception message would otherwise make the
  * driver's json.load fail.
  */
object JsonUtil {
  val mapper: ObjectMapper = new ObjectMapper()

  /** String→string map as a JSON object — the oracle_sql.json shape.
    * One copy shared by Verify (what the driver gate runs) and
    * DumpOracleSql (what the type audit pre-checks): serialization drift
    * between them would make the audit check different SQL than ships.
    */
  def obj(m: Map[String, String]): String = {
    val o = mapper.createObjectNode()
    m.foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  /** `s` as a JSON string literal, quotes included. */
  def str(s: String): String = mapper.writeValueAsString(s)

  /** The JSON tree of `s`; `None` when `s` does not parse. */
  def parse(s: String): Option[JsonNode] =
    scala.util.Try(mapper.readTree(s)).toOption.filterNot(_.isMissingNode)
}
