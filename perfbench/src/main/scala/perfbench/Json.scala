package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap

/** Writes the result and span files with Jackson's Scala module: maps
  * render as objects (a [[ListMap]] in insertion order), sequences as
  * arrays.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: java.nio.file.Path, v: Any): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    mapper.writeValue(path.toFile, v)
  }
}

/** Order statistics over samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Median with its quartiles and sample count, as reported per metric. */
  def summary(xs: Seq[Double]): ListMap[String, Any] =
    if (xs.isEmpty) ListMap("n" -> 0)
    else ListMap("median" -> median(xs), "q1" -> quantile(xs, 0.25),
      "q3" -> quantile(xs, 0.75), "n" -> xs.length)
}
