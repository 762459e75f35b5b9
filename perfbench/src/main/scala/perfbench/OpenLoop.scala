package perfbench

/** Bookkeeping for the open-loop generator of the stream workload. The
  * generator offers a fixed number of messages every `periodMs`, on a
  * schedule fixed in advance; it never waits for the engine. Lateness is
  * how far an offer ran behind its slot (a generator that falls behind
  * would hide queueing from the latency figures), and backlog is what
  * the engine had been offered but not yet taken when a batch ended.
  */
object OpenLoop {

  /** Scheduled time of the k-th offer. */
  def slot(startMs: Double, periodMs: Double, k: Int): Double = startMs + k * periodMs

  /** Per-offer lateness against the schedule, never negative. */
  def lateness(startMs: Double, periodMs: Double, actualMs: Seq[Double]): Seq[Double] =
    actualMs.zipWithIndex.map { case (a, k) => math.max(0.0, a - slot(startMs, periodMs, k)) }

  /** Messages offered before `atMs` but not among the first `taken`:
    * `offers` holds each offer's (time, message count) in order.
    */
  def backlog(offers: Seq[(Double, Int)], atMs: Double, taken: Long): Long =
    math.max(0L, offers.takeWhile(_._1 <= atMs).map(_._2.toLong).sum - taken)
}
