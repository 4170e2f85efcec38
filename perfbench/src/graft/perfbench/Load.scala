package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** Load generators: an open loop that times each request from its
  * scheduled send time, and a closed loop that measures capacity. */
object Load {
  /** Timings of one open-loop phase, in ns relative to its start.
    * `code(i)` is whatever the request op returned. */
  final class Phase(val sched: Array[Long], val start: Array[Long], val end: Array[Long],
                    val code: Array[Int]) {
    def n: Int = code.length
    def latMs: Seq[Double] = (0 until n).map(i => (end(i) - sched(i)) / 1e6)
    def lateMs: Seq[Double] = (0 until n).map(i => (start(i) - sched(i)) / 1e6)
  }

  /** Poisson arrival offsets (ns) at `rate`/s over `durS` seconds. */
  def schedule(rate: Double, durS: Double, seed: Long): Array[Long] = {
    val r = new SplittableRandom(seed)
    val out = Array.newBuilder[Long]
    var t = 0.0
    while ({ t += -math.log(1.0 - r.nextDouble()) / rate; t < durS }) out += (t * 1e9).toLong
    out.result()
  }

  /** Open loop: requests arrive on a seeded Poisson schedule whatever the
    * server does, `conns` workers (one connection each) take them in
    * order and run `op(worker, i)`, and each request is timed from its
    * SCHEDULED send time, so a stall also charges the requests queued
    * behind it. */
  def openLoop(rate: Double, durS: Double, conns: Int, seed: Long)(op: (Int, Int) => Int): Phase = {
    val sched = schedule(rate, durS, seed)
    val total = sched.length
    val start = new Array[Long](total); val end = new Array[Long](total); val code = new Array[Int](total)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime() + 5000000L // 5 ms for the workers to start
    val workers = (0 until conns).map { w =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < total) {
          val due = t0 + sched(i)
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          start(i) = now - t0
          code(i) = op(w, i)
          end(i) = System.nanoTime() - t0
          i = next.getAndIncrement()
        }
      }, s"perfbench-load-$w")
      th.start(); th
    }
    workers.foreach(_.join())
    new Phase(sched, start, end, code)
  }

  /** Closed loop: `conns` workers each send their next request as soon
    * as the last is answered, for `durS` seconds. Returns the op codes
    * of the requests done and the seconds they took. */
  def closedLoop(durS: Double, conns: Int)(op: (Int, Int) => Int): (Array[Int], Double) = {
    val next = new AtomicInteger(0)
    val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val t0 = System.nanoTime()
    val stopAt = t0 + (durS * 1e9).toLong
    val workers = (0 until conns).map { w =>
      val th = new Thread(() => {
        while (System.nanoTime() < stopAt) codes.add(op(w, next.getAndIncrement()))
      }, s"perfbench-closed-$w")
      th.start(); th
    }
    workers.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    (codes.toArray(new Array[Integer](0)).map(_.intValue), secs)
  }
}
