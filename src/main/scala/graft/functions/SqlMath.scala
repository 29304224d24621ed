package graft.functions

/** Catalyst's arithmetic for JVM code that must reproduce a plan's
  * values bit for bit: the kernels' rounded tiebreaks, the driver-side
  * BM25 ranking and the driver-side codebook training. */
object SqlMath {
  /** catalyst's `round(x, scale)` of a double: its decimal string,
    * rounded HALF_UP; NaN and the infinities pass through. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
      .doubleValue()
}
