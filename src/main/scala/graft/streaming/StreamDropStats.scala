package graft.streaming

/** Per-JVM registry of ring-drop totals from the LAST completed run of
  * each streaming near-dup gate. The occupancy-ring drop accumulator
  * (`dropCounter` on [[BucketRingProcessor]]) is the
  * signal a production stream watches for cap bite; the probes assert on
  * it, but probe runs live outside the round artifacts — this registry
  * lets QualityReport surface the gate-run totals in QUALITY_r{N}.json so
  * a cap-bite regression is diffable round over round (expected 0 on the
  * fixture corpora: the planted twins never overflow a bucket ring).
  * Last-run-wins per gate name; reads never block a recording stream. */
object StreamDropStats {
  private val last = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def record(gate: String, drops: Long): Unit = last.put(gate, drops)

  /** Total from the most recent run of `gate` in this JVM, if any. */
  def get(gate: String): Option[Long] = Option(last.get(gate)).map(_.longValue)
}
