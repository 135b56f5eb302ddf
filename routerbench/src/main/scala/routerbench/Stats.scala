package routerbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Order statistics. */
object Stats {

  /** Percentile by linear interpolation between closest ranks (numpy's
    * default): `q` in [0, 1]; NaN for no samples. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0 && q <= 1, s"percentile $q outside [0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** The one JSON mapper of the harness, Scala collections included: it
  * writes the result line and run records and reads what the router wrote. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
