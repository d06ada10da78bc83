package graft

/** The box condition (load average, count of other JVMs) as graft.Bench
  * reads it; Bench.boxCondition is package-private. */
object BenchBox {
  def condition(): (Seq[Double], Int) = Bench.boxCondition()
}
