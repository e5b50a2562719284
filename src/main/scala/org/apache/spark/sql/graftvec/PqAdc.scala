package org.apache.spark.sql.graftvec

import org.apache.spark.sql.catalyst.util.ArrayData

/** `pq_adc(codes, lut)`: the asymmetric (IVF-ADC) distance of one
  * packed posting. `codes` holds one entry per subspace, the code
  * word's position in that subspace's codebook; `lut` is the probe's
  * lookup table, subspace by subspace, `lut.length / codes.length`
  * entries each. The distance is Σ lut[sub · w + codes[sub]], summed
  * in subspace order 0..m−1. A code outside its subspace's table, or
  * a table that does not split into m equal parts, fails the task. */
object PqAdcImpl {
  def adc(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val w = lut.numElements() / m
    if (w * m != lut.numElements())
      throw new IllegalArgumentException(
        s"pq_adc: a ${lut.numElements()}-entry table does not split into $m subspaces")
    var s = 0.0
    var i = 0
    while (i < m) {
      val c = codes.getInt(i)
      if (c < 0 || c >= w)
        throw new IllegalArgumentException(s"pq_adc: code $c of subspace $i outside its $w-word table")
      s += lut.getDouble(i * w + c)
      i += 1
    }
    s
  }
}
