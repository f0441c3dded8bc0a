package layerbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}

/** Host-speed reference: a fixed memory-bound kernel (random
  * read-modify-write over a 4 MiB array per thread, about 45 ms on a
  * 4-core host) run on `threads` threads at once. Its wall time moves with whatever else the machine
  * is doing, so a query's wall divided by the reference run just
  * before it filters out much of the host's own noise.
  */
final class HostRef(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "layerbench-hostref")
      t.setDaemon(true)
      t
    }
  })
  private val arrays = Array.fill(threads)(new Array[Int](HostRef.Ints))
  @volatile private var sink = 0L

  /** Wall seconds of one run of the kernel on every thread. */
  def run(): Double = {
    val t0 = System.nanoTime()
    val fs = arrays.map(a => pool.submit(new Callable[Long] {
      def call(): Long = HostRef.kernel(a, HostRef.Iters)
    }))
    sink += fs.map(_.get()).sum
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = pool.shutdownNow()
}

object HostRef {
  private val Iters = 1500000
  private val Ints = 1 << 20 // 4 MiB per thread, a power of two
  private val Chunk = 4096

  /** Pseudo-random read-modify-write walk over `a`, about `iters` steps,
    * in fixed-size chunks so the JIT compiles one small hot method the
    * same way in every run.
    */
  def kernel(a: Array[Int], iters: Int): Long = {
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < iters) {
      x = chunk(a, x)
      i += Chunk
    }
    x
  }

  private def chunk(a: Array[Int], seed: Long): Long = {
    val mask = a.length - 1
    var x = seed
    var acc = 0L
    var i = 0
    while (i < Chunk) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val j = (x >>> 33).toInt & mask
      a(j) = a(j) * 31 + (x >>> 17).toInt
      acc += a((j + 7) & mask)
      i += 1
    }
    x ^ acc
  }
}
