package wxbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result line, the run artifact and the span file, through
  * the Jackson that ships with Spark (a `ListMap` keeps its key order). */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples beyond
    * it: with n sorted samples that is the value at index n - 11, the
    * (n - 10) / n quantile. Below eleven samples no such percentile
    * exists and the maximum is reported instead. Returns (value,
    * percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, n)
    else (s.last, 100.0, n)
  }
}
