package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared operator-query: a Spark-side build plus (optionally) the
  * equivalent DuckDB SQL the driver uses as a correctness oracle.
  *
  * Determinism rules shared by both sides (see SURVEY.md §7.5):
  *   - double aggregation goes through DECIMAL(18,4) (exact, order-free),
  *     final result cast back to DOUBLE;
  *   - vector math is quantized to BIGINT before any reduction;
  *   - every rank / top-k carries a total-order tiebreak.
  */
final case class Q(name: String, oracle: Option[String])(
    val build: (SparkSession, String) => DataFrame)

object Tables {
  /** Loads one test table. `events.ts` has shipped in two fixture
    * generations: nanosecond-precision parquet (which Spark 4 refuses
    * to read as a timestamp — legacy nanosAsLong, which every session
    * carries through `SparkSessionFactory.standardConf`, reads it as a
    * long we truncate to µs, exactly what DuckDB's reader does) and plain
    * µs-precision TIMESTAMP_NTZ. Handle both by inspecting the read
    * dtype; either way the result is a µs TimestampType in the UTC
    * session zone, identical to DuckDB's view (FIXTURES.md caveat).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** Shuffle-partition count scaled to the INPUT, for linear passes
    * whose per-partition cost is super-linear (sort-merge joins,
    * sort-based aggregates): one partition per ~64 MB of input
    * parquet, floored at the session's shuffle-partition default.
    * At the test SFs this returns the default — plans there are
    * byte-identical to the fixed-conf ones — while at scale fixtures
    * (and on a real cluster) the count grows linearly with the data,
    * holding per-partition sort depth n·log(n/p) ≈ n·log(64 MB)
    * instead of n·log(n/32): the q192 α=0.85→0.80 fix at the 25×
    * rung. Static file-metadata arithmetic through the Hadoop
    * FileSystem API — no extra Spark job, and the sizing works on any
    * filesystem the cluster reads (HDFS/S3A/local), not just local
    * paths; an unreadable or absent table contributes zero bytes and
    * the floor default applies. */
  def scaledPartitions(spark: SparkSession, dir: String,
      tables: Seq[String]): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val bytes = tables.map { t =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir, s"$t.parquet")
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
        // NonFatal, not just IOException: Path construction throws
        // IllegalArgumentException on malformed dirs and some Hadoop
        // filesystems throw UnsupportedOperationException from
        // getContentSummary — any metadata failure must degrade to
        // "0 bytes, floor default", as documented above.
      } catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum
    val default = spark.sessionState.conf.numShufflePartitions
    math.max(default, (bytes / PartitionBytes).toInt)
  }

  /** The input size unit of [[scaledPartitions]] and of the catalog
    * artifacts' file count (`LayoutCatalog.width`). */
  val PartitionBytes: Long = 64L << 20

  /** Spread a QUERY-PATH linear kernel's input across the executor
    * before the per-row map (q192's cliff fix, shared): a single-file
    * corpus scans as ONE task (parquet splits at row-group
    * granularity — a 15 MB file is one partition under the default
    * 128 MB split), stranding a CPU-heavy per-row kernel (simhash,
    * minhash shingling) on one core while the rest idle — 68 of
    * q192's 73 s at the 25× fixture. The repartition is
    * UNCONDITIONAL, exactly like q192's: the trigger is kernel cost
    * per row, not input bytes, so a byte-threshold would skip the
    * MB-sized fixtures where the stranding is worst; what scales with
    * the input is the WIDTH ([[scaledPartitions]]). The exchange
    * moves only the raw (key, text) bytes — sub-0.1 s at the test
    * SFs, and measured a net win at every scale rung where it
    * matters. */
  def spreadKernelInput(spark: SparkSession, dir: String,
      tables: Seq[String], df: DataFrame, key: Column): DataFrame =
    df.repartition(scaledPartitions(spark, dir, tables), key)
}

/** The engine's hashes, one definition per engine each: every Spark
  * query, every DuckDB oracle and every JVM kernel calls these, so the
  * two engines can never drift apart. All are exact BIGINT arithmetic.
  *
  *  - The salted Knuth word, the reproducible "random" stream:
  *    ((x + salt) mod 2³¹) · 2654435761 mod 2³². [[sql]] is plain
  *    arithmetic that Spark `expr` and DuckDB both read; [[col]] is the
  *    Spark column and [[scalar]] the JVM long (stateful streaming
  *    operators). The salt adds BEFORE the multiply (see
  *    queries/Curation).
  *  - The avalanche mix of a word h0 (two xor-shift rounds around one
  *    odd multiply): h2 = ((h0 ^ h0 div 2¹⁶) · 1597334677) mod 2³²,
  *    then h = h2 ^ h2 div 2¹³. A bare multiplicative hash of
  *    consecutive ids is a lattice (q153); the mix breaks it and stays
  *    injective on [0, 2³²). The query forms come in two rounds so the
  *    caller binds h2 once as a column of its own: [[mixSql]] /
  *    [[mixEndSql]] for DuckDB (`xor`, `//`), [[mixCol]] / [[mixEndCol]]
  *    for Spark (`^`, `div`), and [[mix]] runs both on a JVM long.
  *  - The 3-gram hash: the word (salt 0) of the packed code points
  *    cp₀·961 + cp₁·31 + cp₂, which is below 2³¹, so the reduction
  *    leaves it unchanged. [[gramSql]] is the DuckDB text over a
  *    3-character string, [[gram]] the JVM kernels' scalar (MinHash
  *    universal family, SimHash).
  *
  * Callers' contract: never inline the multiply. The word reduces its
  * input mod 2³¹ BEFORE the multiply so the product stays under 2⁶³
  * for ANY bigint input ((2³¹−1)·2654435761 ≈ 5.7e18): Spark/Scala
  * would wrap silently on overflow while DuckDB raises, so without the
  * reduction the cross-engine identity breaks for ids ≳ 2^31.4. Inputs
  * below 2³¹ (every shipped id domain) hash to the same value as the
  * unreduced form. The mix takes a word (< 2³²), which keeps
  * h·1597334677 under 2⁶³. The Carter–Wegman seed formulas
  * (`MinHashKernel.seedA`, q147's aₛ, `Matching.bloomFamily`) are
  * multiplier families, not the word, and stay with their owners. */
object Knuth {
  def sql(column: String, salt: Long): String =
    s"((($column + $salt) % 2147483648) * 2654435761) % 4294967296"
  def col(c: Column, salt: Long): Column =
    (((c + lit(salt)) % lit(2147483648L)) * lit(2654435761L)) % lit(4294967296L)
  def scalar(x: Long, salt: Long): Long =
    (((x + salt) % 2147483648L) * 2654435761L) % 4294967296L

  /** Mix round one, h0 → h2 (DuckDB). */
  def mixSql(h0: String): String =
    s"(xor($h0, $h0 // 65536) * 1597334677) % 4294967296"
  /** Mix round two, h2 → h (DuckDB). */
  def mixEndSql(h2: String): String = s"xor($h2, $h2 // 8192)"
  /** Mix round one over column `h0` (Spark). */
  def mixCol(h0: String): Column =
    expr(s"(($h0 ^ ($h0 div 65536)) * 1597334677) % 4294967296")
  /** Mix round two over column `h2` (Spark). */
  def mixEndCol(h2: String): Column = expr(s"$h2 ^ ($h2 div 8192)")
  /** Both mix rounds on a JVM long. */
  def mix(h0: Long): Long = {
    val h2 = ((h0 ^ (h0 / 65536)) * 1597334677L) % 4294967296L
    h2 ^ (h2 / 8192)
  }

  /** The 3-gram hash of string column `g` (DuckDB). */
  def gramSql(g: String): String = sql(
    s"(ascii(substr($g, 1, 1)) * 961 + ascii(substr($g, 2, 1)) * 31 + " +
      s"ascii(substr($g, 3, 1)))", 0L)
  /** The 3-gram hash of three code points. */
  def gram(c0: Int, c1: Int, c2: Int): Long =
    scalar(c0 * 961L + c1 * 31L + c2, 0L)
}

object Det {
  /** Exact-decimal image of a double column (order-independent sums). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** SUM(double) with deterministic result: decimal-sum then one cast. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Deterministic AVG: exact decimal sum divided by count, in double. */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))
}

/** Logging hygiene applied by `SparkSessionFactory.local`, i.e. for
  * every main and the test session. */
object Log {
  /** Silence WindowExecBase's per-execution "No Partition Defined for
    * Window operation!" line. Every unpartitioned window in the
    * registry is STRUCTURALLY audited by PlanSpec's global sweep — a
    * window with an empty partitionSpec must have a shrinking node
    * (aggregate/limit) beneath it on its streamed lineage, or sit on
    * the hand-audited whitelist (q121's survivor-only phase 2), and
    * the sweep FAILS the build otherwise. That sweep is the real
    * scale guard; the log line re-raises already-adjudicated sites
    * 500+ times per full Verify sweep, so the local session quiets
    * the logger (the structural check, unlike the log, cannot be
    * ignored). */
  def quietAuditedWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
}
