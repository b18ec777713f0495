package perfbench

import java.util.concurrent.{Callable, Executors}

/** How fast this host runs right now: a fixed amount of integer work on
  * every core, timed.
  *
  * On a shared VM the CPU the hypervisor grants this machine changes
  * from minute to minute. While this benchmark was defined, the same
  * query mix took 0.43 s in one run and 0.72 s a few minutes later, with
  * nothing changed but the host's load. The probe runs just before and
  * just after each timed op, and the end-to-end latency scales the op's
  * wall time by [[RefSeconds]] over the mean of the two probe times:
  * what the op would have taken on a host that runs the probe in
  * [[RefSeconds]]. Runs made at different moments then compare.
  *
  * The probe runs no code of the program under test and allocates
  * nothing. The program can move it only by leaving work running on
  * other threads after an op returns, and the raw wall times in each
  * run's record show that. The work is a xorshift walk over a 256 KiB
  * array per core, so it stays in cache and times the cores, not the
  * memory system: a memory-bound probe tracked the query mix less well. */
object HostProbe {
  /** About the probe's time on a 4-vCPU VM at low load, so that scaled
    * and raw times are close there. */
  val RefSeconds = 0.025

  private val threads = Runtime.getRuntime.availableProcessors
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-host-probe"); t.setDaemon(true); t
  })
  private val arrays = Array.fill(threads)(new Array[Long](1 << 15))
  @volatile private var sink = 0L // keeps the JIT from dropping the work

  /** Seconds the probe took now. */
  def apply(): Double = {
    val t0 = System.nanoTime()
    val parts = arrays.indices.map { i =>
      pool.submit(new Callable[Long] {
        def call(): Long = {
          val a = arrays(i)
          var x = 88172645463325252L + i
          var k = 0
          while (k < 5000000) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            a((x & 0x7fff).toInt) += x
            k += 1
          }
          a(0)
        }
      })
    }
    sink += parts.map(_.get).sum
    (System.nanoTime() - t0) / 1e9
  }
}
