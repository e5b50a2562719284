package org.apache.spark.sql.graftvec

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernels for the wire envelope (reference
  * marshaller.go:16-71): `{watermill_message_uuid, data (base64),
  * headers:{...}}` where headers is the message's FULL string→string
  * metadata map (marshaller.go:17-20 `Headers map[string]string`; the
  * unmarshaller copies every header back into message metadata,
  * marshaller.go:35-38).
  *
  * Spark's `to_json`/`from_json` evaluate through CodegenFallback —
  * per-row interpreted Jackson round-trips that dominated the
  * m1/m2 bench. These expressions keep the same wire bytes (field
  * order fixed, headers serialized in ascending key order for
  * byte-stability, Jackson-compatible string escaping, standard
  * non-chunked base64 — byte-identical to `to_json(struct(...))` with
  * a key-sorted map and to DuckDB's `to_json(struct_pack(...))` with
  * key-sorted fields) while staying inside whole-stage codegen.
  */
object EnvelopeJsonImpl {

  private val Factory = new JsonFactory()

  /** The decoded envelope row, struct<uuid, payload binary, headers
    * map>, returned by both wires' parse expressions. */
  val DecodedType: StructType = StructType(Seq(
    StructField("uuid", StringType),
    StructField("payload", BinaryType),
    StructField("headers", MapType(StringType, StringType))))

  /** Jackson-compatible JSON string escape: quote, backslash, and
    * control chars (<0x20, short forms where Jackson uses them). */
  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ =>
          if (c < ' ') sb.append(f"\\u${c.toInt}%04x") else sb.append(c)
      }
      i += 1
    }
  }

  /** message → JSON envelope (marshaller.go:44-70 JSONMarshaller).
    * Headers serialize in ascending key order — Go map iteration is
    * unordered, so any fixed order is wire-compatible, and sorting
    * makes the bytes deterministic (the repo's determinism gate
    * hashes envelope output). A null header value serializes as JSON
    * null, matching `to_json` on a map with a null value.
    */
  def marshal(uuid: UTF8String, payload: Array[Byte], headers: MapData): UTF8String = {
    val sb = new java.lang.StringBuilder(96 + (payload.length * 4) / 3)
    sb.append("{\"watermill_message_uuid\":\"")
    appendEscaped(sb, uuid.toString)
    sb.append("\",\"data\":\"")
    sb.append(java.util.Base64.getEncoder.encodeToString(payload))
    sb.append("\",\"headers\":{")
    val n = headers.numElements()
    val keyArr = headers.keyArray()
    val valArr = headers.valueArray()
    val keys = new Array[String](n)
    val order = new Array[Integer](n)
    var i = 0
    while (i < n) { keys(i) = keyArr.getUTF8String(i).toString; order(i) = i; i += 1 }
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => keys(a).compareTo(keys(b)))
    i = 0
    while (i < n) {
      val j = order(i)
      if (i > 0) sb.append(',')
      sb.append('"')
      appendEscaped(sb, keys(j))
      sb.append("\":")
      if (valArr.isNullAt(j)) sb.append("null")
      else {
        sb.append('"')
        appendEscaped(sb, valArr.getUTF8String(j).toString)
        sb.append('"')
      }
      i += 1
    }
    sb.append("}}")
    UTF8String.fromString(sb.toString)
  }

  /** JSON envelope → (uuid, payload bytes, headers map); null on
    * malformed input (same contract as from_json). Streaming Jackson
    * parse — accepts any field order / extra fields; EVERY header key
    * round-trips (marshaller.go:35-38), in wire order. */
  def parse(json: UTF8String): InternalRow = {
    try {
      val p = Factory.createParser(json.toString)
      var uuid: UTF8String = null
      var payload: Array[Byte] = null
      var hKeys: java.util.ArrayList[AnyRef] = null
      var hVals: java.util.ArrayList[AnyRef] = null
      if (p.nextToken() != JsonToken.START_OBJECT) return null
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName()
        p.nextToken()
        name match {
          case "watermill_message_uuid" => uuid = UTF8String.fromString(p.getText)
          case "data" => payload = java.util.Base64.getDecoder.decode(p.getText)
          case "headers" =>
            if (p.currentToken() == JsonToken.START_OBJECT) {
              hKeys = new java.util.ArrayList[AnyRef]()
              hVals = new java.util.ArrayList[AnyRef]()
              while (p.nextToken() != JsonToken.END_OBJECT) {
                val hn = p.currentName()
                p.nextToken()
                if (p.currentToken().isScalarValue) {
                  hKeys.add(UTF8String.fromString(hn))
                  hVals.add(
                    if (p.currentToken() == JsonToken.VALUE_NULL) null
                    else UTF8String.fromString(p.getText))
                } else p.skipChildren()
              }
            } else p.skipChildren()
          case _ => p.skipChildren()
        }
      }
      p.close()
      val headers =
        if (hKeys == null) null
        else new ArrayBasedMapData(
          new GenericArrayData(hKeys.toArray.asInstanceOf[Array[Any]]),
          new GenericArrayData(hVals.toArray.asInstanceOf[Array[Any]]))
      new GenericInternalRow(Array[Any](uuid, payload, headers))
    } catch {
      case _: Exception => null
    }
  }
}
