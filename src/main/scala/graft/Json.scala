package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The engine's one JSON codec: index metadata, HTTP bodies, the oracle
  * SQL map and Bench's contract line are all read and written through
  * [[mapper]] and Jackson's tree model (the line's fixed decimals are
  * `BigDecimal` nodes, which Jackson writes with their scale).
  *
  * Jackson's default float handling writes a double with
  * `Double.toString` and reads it with `Double.parseDouble`, so metadata
  * doubles (`avgdl`, `k1`, `b`, baked into posting weights) round-trip
  * bit-exactly; its fast float features stay off. Content after the
  * first JSON value is an error.
  */
object Json {

  val mapper: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The JSON object in file `p`. */
  def read(p: Path): JsonNode = obj(Files.readString(p), p)

  /** Each non-empty line of file `p` as a JSON object (JSON Lines); none
    * when there is no such file.
    */
  def lines(p: Path): Iterator[JsonNode] =
    if (!Files.exists(p)) Iterator.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map(obj(_, p))

  /** Field `name` of `o`, read from file `p`: present, and passing `ok`. */
  def field(o: JsonNode, name: String, p: Path)(ok: JsonNode => Boolean): JsonNode = {
    val v = o.get(name)
    require(v != null, s"$p: missing field $name")
    require(ok(v), s"$p: field $name has the wrong type: $v")
    v
  }

  private def obj(text: String, p: Path): JsonNode = {
    val n = try mapper.readTree(text) catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"$p: not JSON: ${e.getOriginalMessage}", e)
    }
    require(n.isObject, s"$p: not a JSON object: $text")
    n
  }
}
