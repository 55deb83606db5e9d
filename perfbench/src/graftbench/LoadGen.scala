package graftbench

import java.util.concurrent.atomic.AtomicInteger

/** One request: when it was due, when a client sent it, when it finished. */
final case class Sample(route: String, dueNs: Long, sentNs: Long, doneNs: Long,
    ok: Boolean, waited: Boolean, body: String) {
  /** Latency as a user sees it: from the due time, so a stall also delays
    * every request queued behind it.
    */
  def latencyMs: Double = (doneNs - dueNs) / 1e6
  def lateMs: Double = (sentNs - dueNs) / 1e6
}

/** Request generators over a fixed pool of client threads. */
object LoadGen {

  /** Open loop: request i is due at `start + offsetsNs(i)`. Each of the
    * `threads` clients takes the next request in due order, sleeps until
    * it is due if it is early, and sends it. A request whose clients are all
    * busy goes out late, and its latency still counts from the due time.
    * `waited` marks requests whose client was idle at the due time, which
    * measure how late the generator itself ran.
    */
  def openLoop(schedule: IndexedSeq[(Long, String)], threads: Int,
      fire: String => (Boolean, String)): Seq[Sample] = {
    val start = System.nanoTime() + 20000000L
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val workers = (0 until threads).map { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < schedule.size) {
          val (offset, route) = schedule(i)
          val due = start + offset
          val early = due - System.nanoTime()
          if (early > 0) java.util.concurrent.locks.LockSupport.parkNanos(early)
          val sent = System.nanoTime()
          val (ok, body) = try fire(route) catch { case _: Throwable => (false, "") }
          out.add(Sample(route, due, sent, System.nanoTime(), ok, early > 0, body))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$w")
      t.start(); t
    }
    workers.foreach(_.join())
    out.toArray(Array.empty[Sample]).toSeq.sortBy(_.dueNs)
  }

  /** Closed loop: `threads` clients each send their next request as soon as
    * the previous one completes, until `seconds` have passed. Each client
    * walks the routes round-robin from a seeded starting point.
    */
  def closedLoop(routes: IndexedSeq[String], threads: Int, seconds: Double, seed: Long,
      fire: String => (Boolean, String)): (Seq[Sample], Double) = {
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val workers = (0 until threads).map { w =>
      var next = new scala.util.Random(seed * 31 + w).nextInt(routes.size)
      val t = new Thread(() => {
        while (System.nanoTime() < end) {
          val route = routes(next % routes.size)
          next += 1
          val sent = System.nanoTime()
          val (ok, body) = try fire(route) catch { case _: Throwable => (false, "") }
          out.add(Sample(route, sent, sent, System.nanoTime(), ok, waited = false, body))
        }
      }, s"perfbench-client-$w")
      t.start(); t
    }
    workers.foreach(_.join())
    (out.toArray(Array.empty[Sample]).toSeq, (System.nanoTime() - start) / 1e9)
  }

  /** An evenly spaced schedule of whole cycles over `routes`, each cycle in
    * a seeded order, at about `ratePerS` for `seconds`. Whole cycles keep the
    * route mix, and with it the latency distribution, the same for every seed.
    */
  def schedule(routes: IndexedSeq[String], ratePerS: Double, seconds: Double,
      seed: Long): IndexedSeq[(Long, String)] = {
    val cycles = math.max(1, math.round(ratePerS * seconds / routes.size).toInt)
    val rnd = new scala.util.Random(seed)
    val order = (1 to cycles).flatMap(_ => rnd.shuffle(routes))
    val gapNs = seconds * 1e9 / order.size
    order.zipWithIndex.map { case (r, i) => ((i * gapNs).toLong, r) }
  }

}
