package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{BooleanNode, DecimalNode, IntNode, LongNode, ObjectNode, TextNode}

/** The one JSON writer of the mains' machine-read output: Bench's record
  * and its stdout lines, and Verify's `oracle_sql.json`. Every string goes
  * through Jackson's escaping, so a quote, backslash or control character
  * in a path, a query name or a SQL text cannot break a line.
  */
private[graft] object Json {

  val mapper = new ObjectMapper()

  def apply(n: JsonNode): String = mapper.writeValueAsString(n)

  /** `v` at `dp` decimals, rounded half-up: the rendering of every duration
    * and size in Bench's output. */
  def num(v: Double, dp: Int = 3): DecimalNode = DecimalNode.valueOf(
    java.math.BigDecimal.valueOf(v).setScale(dp, java.math.RoundingMode.HALF_UP))

  /** A Scala value as a node: a Double renders through [[num]], a
    * sequence becomes an array. */
  def node(v: Any): JsonNode = v match {
    case n: JsonNode     => n
    case d: Double       => num(d)
    case l: Long         => LongNode.valueOf(l)
    case i: Int          => IntNode.valueOf(i)
    case b: Boolean      => BooleanNode.valueOf(b)
    case s: String       => TextNode.valueOf(s)
    case xs: Iterable[_] =>
      xs.foldLeft(mapper.createArrayNode())((a, x) => a.add(node(x)))
  }

  /** An object with the given fields, in order. */
  def obj(kv: (String, Any)*): ObjectNode =
    kv.foldLeft(mapper.createObjectNode()) { case (o, (k, v)) =>
      o.set[ObjectNode](k, node(v))
    }
}
