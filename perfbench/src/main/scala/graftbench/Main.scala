package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload for a fixed time and prints one JSON
  * line with the outcome and its metrics.
  *
  * Args: <workload> <seed> <seconds> <trace 0|1> <work dir> <bench dir>.
  * Every file it writes is under the work dir, which the caller owns.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, bench: File)

  /** What a workload reports: ops attempted and failed (the cold write
    * and warm-up included; a wrong output is a failure), whether every
    * check passed, and its metrics by name. */
  final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, Double], notes: Seq[String])

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      new File(argv(4)).getAbsoluteFile, new File(argv(5)).getAbsoluteFile)
    val spark = session(a.work)
    val out =
      try a.workload match {
        case "medallion" => Medallion.run(spark, a)
        case "query_mix" => QueryMix.run(spark, a)
        case "expect" => QueryMix.expect(spark, a); return
        case "deps" => QueryMix.deps(spark, a); return
        case w => sys.error(s"unknown workload $w")
      } finally {
        progress("workload done")
        spark.stop()
        progress("session stopped")
      }
    out.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    val declared = if (a.trace) Layers.perLayer else Layers.endToEnd
    val missing = declared.map(_._1).filterNot(out.metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = declared.map { case (n, unit) =>
      s""""$n":{"value":${num(out.metrics(n))},"unit":"$unit"}"""
    }
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
  }

  /** Bench's session contract: local[cores] with as many shuffle
    * partitions, UTC, nanosAsLong, AQE, the registry-sized codegen cache
    * and periodic GC. Scratch and warehouse paths stay in the work dir. */
  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "120s")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Log.quietAuditedWarnings()
    s
  }

  /** Seconds since this JVM started: set-up time is everything before
    * the timed loop, session start included. */
  def uptimeSeconds: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Heap still in use after a full collection, in MB: what the run
    * keeps live, free of the allocation timing that moves the resident
    * set from run to run. */
  def liveHeapMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** High-water resident set of this JVM, in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] $uptimeSeconds%.1fs $msg")

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM so far (every thread), in seconds. Time
    * the hypervisor steals from this guest is not in it, so it holds
    * steady where wall time follows co-tenants. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Whole passes a run makes at least, so that every run's statistics
    * are taken over the same kind of sample (the first timed pass runs a
    * little slower than later ones). A traced run makes at least five, so
    * that `tracedPass` has a whole traced, untraced, untraced, traced
    * group after the first pass. */
  def minPasses(a: Args): Int = if (a.trace) 5 else 2

  /** Whether pass `p` of a traced run is traced: the first pass is not,
    * and later passes go traced, untraced, untraced, traced, so that the
    * speed-up the JVM still makes from pass to pass cancels out of the
    * tracing overhead, which compares traced with untraced ops. */
  def tracedPass(a: Args, p: Int): Boolean = a.trace && p > 0 && p % 4 <= 1

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, seconds(t0))
  }

  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Mean of the middle half of a sample (a quarter dropped at each
    * end): robust to outliers like a median, but it averages over
    * several ops, so it does not jump between two ops of different cost
    * the way a median of a small mixed sample does. */
  def interquartileMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val mid = s.slice(s.size / 4, s.size - s.size / 4)
      mid.sum / mid.size
    }

  def regularFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else {
      val st = Files.walk(dir.toPath)
      try {
        val it = st.iterator()
        val b = Seq.newBuilder[File]
        while (it.hasNext) { val p: Path = it.next(); if (Files.isRegularFile(p)) b += p.toFile }
        b.result()
      } finally st.close()
    }

  /** Bytes of the data files under `dir`; Hadoop's `.crc` side files
    * and markers count too, since they are on disk all the same. */
  def bytesUnder(dir: File): Long = regularFiles(dir).map(_.length()).sum

  def deleteTree(f: File): Unit = graft.operators.LayoutCatalog.deleteRecursively(f)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
