package org.apache.spark.sql.graftvec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** One-pass bytes→curation-stats kernel for real media payloads
  * (mm12's hot path — the r10/r11 verdicts' declared fast path).
  *
  * The composed alternative — sixteen interpreted higher-order
  * `transform`/`aggregate` lambdas re-slicing the wire per element —
  * is correct but evaluates outside whole-stage codegen and re-reads
  * the payload O(k) times. This expression walks the container ONCE
  * per row inside codegen (the generated code is a single static call
  * into the same hardened byte-walker MediaDecode.parsePayload uses:
  * BMP pixel rows with their 4-byte stride padding, RIFF chunk walk
  * to the PCM s16-LE samples, all bounds arithmetic in the Long
  * domain) and emits every stat a curation filter gates on as one
  * struct. Parity with the HOF form is spec-enforced bit-for-bit
  * (FunctionsSpec): identical element order, identical
  * sum/sqrt(sq/n)/max-abs folds, so rounded outputs agree exactly.
  *
  * Adversarial payloads (overflowing u32 fields, truncated data)
  * return ok=false rows, never throw — the MediaDecode contract.
  */
object MediaStatsImpl {
  def stats(bytes: Array[Byte]): InternalRow = {
    val s = graft.operators.MediaDecode.parsePayload(bytes)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(s.container), s.nUnits, s.meanSignal, s.rms,
      s.peak, s.meanR, s.meanG, s.meanB, s.ok))
  }
}
