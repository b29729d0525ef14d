package graftbench

/** Host canary, Bench's protocol at a small fraction of its length:
  * `cpu_s` is the median wall time of one integer busy loop per core,
  * run on all cores at once (flat on an idle host, higher under
  * contention); `memcpy_gbps` is single-thread copy bandwidth over a
  * 16 MB buffer. Run in a fresh JVM before and after the benchmark JVM,
  * so both readings see the same idle runtime; it separates a noisy
  * window from a slow commit. */
object Canary {
  def main(args: Array[String]): Unit = {
    val threads = Runtime.getRuntime.availableProcessors()
    val times = new Array[Double](threads)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val t0 = System.nanoTime()
        var x = 88172645463325252L + i
        var k = 0L
        while (k < 40000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        sink.addAndGet(x)
        times(i) = (System.nanoTime() - t0) / 1e9
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    val cpu = times.sorted.apply(threads / 2)

    val bytes = 16 * 1024 * 1024
    val src = new Array[Byte](bytes)
    val dst = new Array[Byte](bytes)
    var i = 0
    while (i < bytes) { src(i) = (i & 0xFF).toByte; i += 4096 }
    System.arraycopy(src, 0, dst, 0, bytes)
    val reps = 32
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) { System.arraycopy(src, 0, dst, 0, bytes); r += 1 }
    val gbps = bytes.toDouble * reps / (1024 * 1024 * 1024) / ((System.nanoTime() - t0) / 1e9)
    println(s"""{"cpu_s":${Main.num(cpu)},"memcpy_gbps":${Main.num(gbps)}}""")
  }
}
