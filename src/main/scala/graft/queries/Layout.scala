package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout operators: multi-dimensional clustering keys.
  *
  * Z-ordering (bit-interleaved space-filling curve) is the standard
  * lakehouse move for making ONE file sort order serve range predicates
  * on SEVERAL columns: rows close in z are close in every interleaved
  * dimension, so parquet min/max stats prune files for filters on x, on
  * y, or on both. The writer pattern at scale is
  * `df.repartitionByRange($"zval").sortWithinPartitions($"zval")
  * .write.parquet(...)` — one range exchange, then every output file
  * covers a small hyper-rectangle.
  *
  * The z computation itself is pure per-row bit arithmetic (zero
  * shuffles, whole-stage codegen); both engines evaluate the identical
  * shift/mask polynomial, so z-values are exact integers everywhere.
  */
object Layout {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Bits per interleaved dimension (16-bit z for 8-bit dims). */
  private val dimBits = 8

  /** q80's block granularity: z div 64 fixes the top 5 bits of each
    * dimension, so every block spans < 8 consecutive values of x div 8
    * and y div 8 — the locality contract `LayoutSpec` pins. */
  private val blockZ = 64

  /** The interleave polynomial Σ ((x>>i)&1)<<2i + Σ ((y>>i)&1)<<(2i+1),
    * generated once for both engines so they cannot drift. */
  private[queries] def interleaveSql(x: String, y: String): String = {
    val xs = (0 until dimBits).map(i => s"((($x >> $i) & 1) << ${2 * i})")
    val ys = (0 until dimBits).map(i => s"((($y >> $i) & 1) << ${2 * i + 1})")
    (xs ++ ys).mkString(" + ")
  }

  private[queries] def interleaveCol(x: Column, y: Column): Column =
    ((0 until dimBits).map(i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)) ++
      (0 until dimBits).map(i =>
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)))
      .reduce(_ + _)

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q80
    // Z-order clustering key over part (p_size, quantized retail price):
    // 8 bits per dimension interleave into a 16-bit z-value; block_id =
    // zval div 64 is the unit a writer would range-partition and sort
    // by. Price quantizes through round() BEFORE the bigint cast —
    // DuckDB's double→int cast rounds half-even while Spark's
    // truncates, so the explicit round() is what keeps the engines
    // byte-identical.
    Q(
      "q80_zorder",
      Some(s"""
        WITH dims AS (
          SELECT p_partkey,
                 CAST(p_size AS BIGINT) & 255 AS x,
                 CAST(round(p_retailprice * 10) AS BIGINT) % 256 AS y
          FROM part)
        SELECT p_partkey, x, y,
               CAST(${interleaveSql("x", "y")} AS BIGINT) AS zval,
               CAST((${interleaveSql("x", "y")}) // $blockZ AS BIGINT) AS block_id
        FROM dims""")
    ) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("long").bitwiseAND(255L).as("x"),
          (round(col("p_retailprice") * 10).cast("long") % 256).as("y"))
        .withColumn("zval", interleaveCol(col("x"), col("y")).cast("long"))
        .withColumn("block_id", expr(s"zval div $blockZ"))
    },

    // ---------------------------------------------------------------- q99
    // Hilbert-curve clustering key over the same (p_size, quantized
    // price) dims as q80 — the locality-superior space-filling curve
    // (every unit step along d moves exactly one cell in one
    // dimension, so a contiguous d-range covers a more compact
    // rectangle than z's jumps; Delta/Iceberg offer exactly this pair
    // of layout choices). The 8 iterations of the standard xy→d walk
    // unroll into a CTE chain GENERATED ONCE for both engines
    // ([[hilbertStages]]); the rotation XOR folds to the arithmetic
    // 2·rx + (rx+ry)%2, so the whole key is +,−,·,%,&,CASE — exact
    // integers everywhere. Per-row arithmetic, zero shuffles;
    // `LayoutSpec` pins the bijection and the unit-step property on
    // the full 256×256 grid.
    Q(
      "q99_hilbert",
      Some(s"""
        WITH dims AS (
          SELECT p_partkey,
                 CAST(p_size AS BIGINT) & 255 AS x,
                 CAST(round(p_retailprice * 10) AS BIGINT) % 256 AS y
          FROM part),
        $hilbertStages
        SELECT p_partkey, x0 AS x, y0 AS y, d AS hval,
               CAST(d // $blockZ AS BIGINT) AS block_id
        FROM h8""")
    ) { (s, dir) =>
      val dims = t(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("long").bitwiseAND(255L).as("x"),
          (round(col("p_retailprice") * 10).cast("long") % 256).as("y"))
      hilbertDf(dims)
        .select(col("p_partkey"), col("x0").as("x"), col("y0").as("y"),
          col("d").as("hval"), expr(s"d div $blockZ").as("block_id"))
    },

    // --------------------------------------------------------------- q165
    // Zone-map pruning audit — the measurement that justifies q80/q99:
    // how many BLOCKS (and rows) must actually be read for 2-D range
    // predicates under each physical layout. Every row lands in one
    // block per layout (natural key order: p_partkey div 64; z-order:
    // zval div 64; hilbert: hval div 64 — the exact block units q80/q99
    // emit); per (layout, block) the zone map is min/max of each
    // dimension (what parquet row-group stats store), and a block must
    // be scanned iff its [min,max] box intersects the predicate box —
    // precisely the file-skipping test a lakehouse reader runs. Three
    // predicates (an x stripe, a y stripe, the box) show the curve
    // layouts trade on: natural order prunes nothing on either
    // dimension, the space-filling curves prune BOTH. rows_matching is
    // identical across layouts (it is pure selectivity) — the audit's
    // sanity row. Scale: the corpus contributes one pass (the per-row
    // key arithmetic) into a block-space aggregate; predicates are a
    // 3-row broadcast; everything after lives in blocks × preds space.
    // The per-layout block population is VALUE-range blocks (the q80
    // contract: a writer range-partitions on the key), so occupancy
    // varies — rows_scanned, not blocks_scanned, is the honest metric,
    // and both are reported.
    Q(
      "q165_zonemap_prune",
      Some(s"""
        WITH dims AS (
          SELECT p_partkey,
                 CAST(p_size AS BIGINT) & 255 AS x,
                 CAST(round(p_retailprice * 10) AS BIGINT) % 256 AS y
          FROM part),
        $hilbertStages,
        keyed AS (
          SELECT p_partkey, x0 AS x, y0 AS y, d AS hval,
                 CAST(${interleaveSql("x0", "y0")} AS BIGINT) AS zval
          FROM h8),
        blk AS (
          SELECT 'natural' AS layout, p_partkey // $blockZ AS block_id, x, y
          FROM keyed
          UNION ALL
          SELECT 'zorder', zval // $blockZ, x, y FROM keyed
          UNION ALL
          SELECT 'hilbert', hval // $blockZ, x, y FROM keyed),
        zm AS (
          SELECT layout, block_id,
                 MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM blk GROUP BY 1, 2),
        preds AS (
          SELECT * FROM (VALUES
            ('x_stripe', CAST(8 AS BIGINT), CAST(15 AS BIGINT),
             CAST(0 AS BIGINT), CAST(255 AS BIGINT)),
            ('y_stripe', 0, 255, 64, 79),
            ('xy_box', 8, 15, 64, 79)) AS v(pred, lx, hx, ly, hy)),
        audit AS (
          SELECT layout, pred,
                 CAST(COUNT(*) AS BIGINT) AS n_blocks,
                 CAST(SUM(CASE WHEN mnx <= hx AND mxx >= lx
                               AND mny <= hy AND mxy >= ly
                          THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned,
                 CAST(SUM(n) AS BIGINT) AS rows_total,
                 CAST(SUM(CASE WHEN mnx <= hx AND mxx >= lx
                               AND mny <= hy AND mxy >= ly
                          THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
          FROM zm CROSS JOIN preds GROUP BY 1, 2),
        mt AS (
          SELECT pred,
                 CAST(SUM(CASE WHEN x BETWEEN lx AND hx
                               AND y BETWEEN ly AND hy
                          THEN 1 ELSE 0 END) AS BIGINT) AS rows_matching
          FROM keyed CROSS JOIN preds GROUP BY 1)
        SELECT a.layout, a.pred, a.n_blocks, a.blocks_scanned, a.rows_total,
               a.rows_scanned, m.rows_matching,
               (1000 * a.rows_scanned) // a.rows_total AS scan_permille
        FROM audit a JOIN mt m USING (pred)""")
    ) { (s, dir) =>
      val dims = t(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("long").bitwiseAND(255L).as("x"),
          (round(col("p_retailprice") * 10).cast("long") % 256).as("y"))
      // one corpus pass computes every layout key; materialized because
      // both the zone-map aggregate and the selectivity aggregate read it
      val keyed = graft.Checkpoints.materialize(
        hilbertDf(dims)
          .select(col("p_partkey"), col("x0").as("x"), col("y0").as("y"),
            col("d").as("hval"))
          .withColumn("zval", interleaveCol(col("x"), col("y")).cast("long")))
      val preds = broadcast(s.range(1).select(explode(array(
        struct(lit("x_stripe").as("pred"), lit(8L).as("lx"),
          lit(15L).as("hx"), lit(0L).as("ly"), lit(255L).as("hy")),
        struct(lit("y_stripe").as("pred"), lit(0L).as("lx"),
          lit(255L).as("hx"), lit(64L).as("ly"), lit(79L).as("hy")),
        struct(lit("xy_box").as("pred"), lit(8L).as("lx"),
          lit(15L).as("hx"), lit(64L).as("ly"), lit(79L).as("hy"))))
        .as("p")).select(col("p.*")))
      val blk = keyed.select(col("x"), col("y"), expr(
        s"stack(3, 'natural', p_partkey div $blockZ, " +
          s"'zorder', zval div $blockZ, " +
          s"'hilbert', hval div $blockZ) AS (layout, block_id)"))
      val zm = blk.groupBy("layout", "block_id")
        .agg(min("x").as("mnx"), max("x").as("mxx"),
          min("y").as("mny"), max("y").as("mxy"),
          count(lit(1)).as("n"))
      val overlap = col("mnx") <= col("hx") && col("mxx") >= col("lx") &&
        col("mny") <= col("hy") && col("mxy") >= col("ly")
      val audit = zm.crossJoin(preds)
        .groupBy("layout", "pred")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(overlap, 1L).otherwise(0L)).as("blocks_scanned"),
          sum(col("n")).as("rows_total"),
          sum(when(overlap, col("n")).otherwise(0L)).as("rows_scanned"))
      val mt = keyed.crossJoin(preds)
        .groupBy("pred")
        .agg(sum(when(col("x").between(col("lx"), col("hx")) &&
          col("y").between(col("ly"), col("hy")), 1L).otherwise(0L))
          .as("rows_matching"))
      audit.join(broadcast(mt), "pred")
        .select(col("layout"), col("pred"), col("n_blocks"),
          col("blocks_scanned"), col("rows_total"), col("rows_scanned"),
          col("rows_matching"),
          expr("(1000 * rows_scanned) div rows_total").as("scan_permille"))
    },

    // --------------------------------------------------------------- q180
    // Equi-depth range-boundary planning — the computation behind
    // `repartitionByRange` and every range-exchange sort at scale:
    // 32 boundaries over l_quantity such that each range holds ~n/32
    // rows, derived ENTIRELY in distinct-value space (the q152
    // run-length move): one corpus shuffle builds the value histogram,
    // the cumulative window runs over ≤50 distinct quantities, each
    // boundary is min{v : 32·cum ≥ i·n}, and per-bucket row counts are
    // cumulative DIFFERENCES at the boundaries — the corpus is never
    // touched again, no sample, no second pass. The skew column is the
    // audit: a value coarser than the ideal bucket width forces
    // adjacent boundaries to collapse (n_rows = 0) and their neighbors
    // to overfill — exactly the granularity error a range-partition
    // planner must see before it sorts 100 TB into uneven tasks.
    Q(
      "q180_range_boundaries",
      Some("""
        WITH vals AS (
          SELECT CAST(round(l_quantity) AS BIGINT) AS v,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM lineitem GROUP BY 1),
        cum AS (
          SELECT v, c,
                 CAST(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cm
          FROM vals),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
        ks AS (SELECT unnest(range(1, 33)) AS bucket),
        bnd AS (
          SELECT ks.bucket, MIN(cum.v) AS hi
          FROM ks CROSS JOIN tot JOIN cum ON 32 * cum.cm >= ks.bucket * tot.n
          GROUP BY ks.bucket),
        sized AS (
          SELECT b.bucket, b.hi, c.cm,
                 c.cm - COALESCE(LAG(c.cm) OVER (ORDER BY b.bucket), 0)
                   AS n_rows
          FROM bnd b JOIN cum c ON c.v = b.hi)
        SELECT CAST(s.bucket AS BIGINT) AS bucket, s.hi,
               CAST(s.n_rows AS BIGINT) AS n_rows,
               CAST((1000 * s.n_rows * 32) // tot.n AS BIGINT)
                 AS fill_permille
        FROM sized s CROSS JOIN tot""")
    ) { (s, dir) =>
      val vals = t(s, dir, "lineitem")
        .groupBy(expr("CAST(round(l_quantity) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // distinct-value space from here down: ≤50 rows
      val cum = vals.withColumn("cm", sum(col("c")).over(wCum))
      val tot = broadcast(vals.agg(sum(col("c")).cast("long").as("n")))
      val ks = broadcast(s.range(1, 33).select(col("id").as("bucket")))
      val bnd = ks.crossJoin(tot).join(broadcast(cum),
          col("cm") * 32 >= col("bucket") * col("n"))
        .groupBy("bucket").agg(min(col("v")).as("hi"))
      val wLag = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      bnd.join(broadcast(cum.select(col("v").as("hi"), col("cm"))), "hi")
        .withColumn("n_rows",
          col("cm") - coalesce(lag(col("cm"), 1).over(wLag), lit(0L)))
        .crossJoin(tot)
        .select(col("bucket"), col("hi"), col("n_rows").cast("long").as("n_rows"),
          expr("(1000 * n_rows * 32) div n").as("fill_permille"))
    },
    q220,
    q227,
    q240,
    q244,
  )

  /** The full 8-stage CTE chain h1..h8 over a `dims(x, y)` CTE —
    * shared text for the DuckDB oracle. Each stage is the canonical
    * Hilbert xy→d iteration (s = current power of two): `(3·rx) XOR
    * ry` is written arithmetically as 2·rx + (rx+ry) % 2 because `^`
    * means POWER in DuckDB — identical value for rx, ry ∈ {0,1}; the
    * rotation reflects at n−1 = 255 and swaps. x, y evolve; x0, y0,
    * d carry through. */
  private[queries] lazy val hilbertStages: String = {
    def stage(i: Int, s: Int, from: String): String =
      s"""h$i AS (
          SELECT p_partkey, x0, y0,
                 d + $s * $s * (2 * rx + (rx + ry) % 2) AS d,
                 CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - y ELSE y END) ELSE x END AS x,
                 CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - x ELSE x END) ELSE y END AS y
          FROM (
            SELECT p_partkey, x0, y0, d, x, y,
                   CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
            FROM $from) t)"""
    val stages = (0 until 8).map { i =>
      stage(i + 1, 128 >> i, if (i == 0) "h0" else s"h$i")
    }
    ("""h0 AS (
          SELECT p_partkey, x AS x0, y AS y0, CAST(0 AS BIGINT) AS d, x, y
          FROM dims)""" +: stages).mkString(",\n        ")
  }

  /** Spark-side replay of the identical stage arithmetic (selectExpr
    * over the same generated fragments — the engines cannot drift). */
  // declared below `all` — lazy so the forward reference from the Seq
  // resolves at first use instead of object-init order.
  private lazy val q220 =
    // --------------------------------------------------------------- q220
    // Small-file compaction plan — the table-maintenance pass every
    // lakehouse runs: given a file inventory (here one "file" per
    // ship-day, bytes = 120·rows, the declared row width), pack each
    // month's files into target bins of 1 MiB by CUMULATIVE OFFSET
    // BINNING in day order: bin = (running bytes − bytes) div target
    // — a file is assigned by its start offset, so a file may
    // straddle a bin boundary and a bin's bytes can overflow the
    // target by at most one file (tighter than next-fit's ≤2× bound:
    // every bin except possibly the last is full by construction).
    // Packing in KEY order (not first-fit-decreasing) is deliberate —
    // it preserves the temporal clustering that makes q165's zone
    // maps prune, and it is one window cumsum instead of a serial
    // packing loop. Output: one row per planned output file
    // with its input-file count and bytes, plus the month's ideal
    // ceil(total/target) bin count so the report shows the next-fit
    // overhead. Everything after the one corpus groupBy runs in
    // file-inventory space (≤ |days| rows) — scales; the per-month
    // window partitions on month, so the sort is per-group.
    Q(
      "q220_compaction_plan",
      Some("""
        WITH f AS (
          SELECT year(CAST(l_shipdate AS DATE)) * 100
                 + month(CAST(l_shipdate AS DATE)) AS mon,
                 epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS d,
                 CAST(120 * COUNT(*) AS BIGINT) AS bytes
          FROM lineitem GROUP BY 1, 2),
        pk AS (
          SELECT mon, d, bytes,
                 (CAST(SUM(bytes) OVER (PARTITION BY mon ORDER BY d)
                       AS BIGINT) - bytes) // 1048576 AS bin,
                 CAST(SUM(bytes) OVER (PARTITION BY mon) AS BIGINT)
                   AS mon_bytes
          FROM f)
        SELECT CAST(mon AS BIGINT) AS mon, bin,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
               (MAX(mon_bytes) + 1048575) // 1048576 AS ideal_bins
        FROM pk GROUP BY 1, 2""")
    ) { (s, dir) =>
      val f = t(s, dir, "lineitem")
        .groupBy(
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("mon"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .as("d"))
        .agg((lit(120L) * count(lit(1))).as("bytes"))
      val wRun = Window.partitionBy("mon").orderBy("d")
      val wMon = Window.partitionBy("mon")
      val pk = f.select(col("mon"), col("bytes"),
        sum(col("bytes")).over(wRun).as("run"),
        sum(col("bytes")).over(wMon).as("mon_bytes"))
        .withColumn("bin", expr("(run - bytes) div 1048576"))
      pk.groupBy("mon", "bin")
        .agg(count(lit(1)).as("n_files"),
          sum(col("bytes")).as("bin_bytes"),
          expr("(max(mon_bytes) + 1048575) div 1048576").as("ideal_bins"))
    }

  private lazy val q227 =
    // --------------------------------------------------------------- q227
    // Run-length-encoding payoff estimate — the layout-advisor sibling
    // of q80/q99/q165: before rewriting a table clustered, PREDICT the
    // encoding win by counting value runs per column under the current
    // row order vs the candidate (returnflag, linestatus) cluster
    // order. Runs are counted WITHIN each ship-month partition (files
    // are partition-local, so a global-order count would model a sort
    // the writer never does — and a global window wouldn't scale; the
    // per-month window does). runs = Σ_partitions (1 + #(v ≠ lag v)).
    // ALL THREE columns' lag flags ride the SAME two window passes
    // over the base table — the stack()-then-window form sorted 3×
    // the rows twice (benched 2.8s; this shape halves it). Both
    // orders end in the shared composite tiebreak (rf, ls, qb):
    // the fixture's (orderkey, linenumber) pairs are NOT unique, and
    // a fixed engine-identical total order is what keeps every
    // column's run count bit-stable. Output per column: rows, runs
    // under each order, and the clustered/natural ratio in permille —
    // the decision number. Corpus cost: two per-partition window
    // passes; everything after is |columns|-sized.
    Q(
      "q227_rle_estimate",
      Some("""
        WITH b AS (
          SELECT year(CAST(l_shipdate AS DATE)) * 100
                 + month(CAST(l_shipdate AS DATE)) AS mon,
                 l_orderkey AS ok, l_linenumber AS ln,
                 l_returnflag AS rf, l_linestatus AS ls,
                 CAST(CAST(l_quantity AS BIGINT) // 10 AS VARCHAR) AS qb
          FROM lineitem),
        fl AS (
          SELECT
            CASE WHEN lag(rf) OVER wn IS DISTINCT FROM rf
                 THEN 1 ELSE 0 END AS nat_rf,
            CASE WHEN lag(ls) OVER wn IS DISTINCT FROM ls
                 THEN 1 ELSE 0 END AS nat_ls,
            CASE WHEN lag(qb) OVER wn IS DISTINCT FROM qb
                 THEN 1 ELSE 0 END AS nat_qb,
            CASE WHEN lag(rf) OVER wc IS DISTINCT FROM rf
                 THEN 1 ELSE 0 END AS clu_rf,
            CASE WHEN lag(ls) OVER wc IS DISTINCT FROM ls
                 THEN 1 ELSE 0 END AS clu_ls,
            CASE WHEN lag(qb) OVER wc IS DISTINCT FROM qb
                 THEN 1 ELSE 0 END AS clu_qb
          FROM b
          WINDOW wn AS (PARTITION BY mon ORDER BY ok, ln, rf, ls, qb),
                 wc AS (PARTITION BY mon ORDER BY rf, ls, ok, ln, qb)),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(nat_rf) AS BIGINT) AS nr, CAST(SUM(clu_rf) AS BIGINT) AS cr,
                 CAST(SUM(nat_ls) AS BIGINT) AS nl, CAST(SUM(clu_ls) AS BIGINT) AS cl,
                 CAST(SUM(nat_qb) AS BIGINT) AS nq, CAST(SUM(clu_qb) AS BIGINT) AS cq
          FROM fl)
        SELECT 'returnflag' AS col_name, n_rows, nr AS runs_natural,
               cr AS runs_clustered, (1000 * cr) // nr AS ratio_pm FROM agg
        UNION ALL
        SELECT 'linestatus', n_rows, nl, cl, (1000 * cl) // nl FROM agg
        UNION ALL
        SELECT 'qty_band', n_rows, nq, cq, (1000 * cq) // nq FROM agg""")
    ) { (s, dir) =>
      val b = t(s, dir, "lineitem").select(
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mon"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        expr("cast(cast(l_quantity as bigint) div 10 as string)").as("qb"))
      val wNat = Window.partitionBy("mon")
        .orderBy("ok", "ln", "rf", "ls", "qb")
      val wClu = Window.partitionBy("mon")
        .orderBy("rf", "ls", "ok", "ln", "qb")
      def flag(c: String, w: org.apache.spark.sql.expressions.WindowSpec) =
        when(not(lag(col(c), 1).over(w) <=> col(c)), 1L).otherwise(0L)
      val fl = b.select(
        flag("rf", wNat).as("nat_rf"), flag("ls", wNat).as("nat_ls"),
        flag("qb", wNat).as("nat_qb"),
        flag("rf", wClu).as("clu_rf"), flag("ls", wClu).as("clu_ls"),
        flag("qb", wClu).as("clu_qb"))
      val agg = fl.agg(count(lit(1)).as("n_rows"),
        sum(col("nat_rf")).as("nr"), sum(col("clu_rf")).as("cr"),
        sum(col("nat_ls")).as("nl"), sum(col("clu_ls")).as("cl"),
        sum(col("nat_qb")).as("nq"), sum(col("clu_qb")).as("cq"))
      agg.select(expr(
        """stack(3,
           'returnflag', nr, cr,
           'linestatus', nl, cl,
           'qty_band', nq, cq) AS (col_name, runs_natural, runs_clustered)"""),
        col("n_rows"))
        .select(col("col_name"), col("n_rows"), col("runs_natural"),
          col("runs_clustered"),
          expr("(1000 * runs_clustered) div runs_natural").as("ratio_pm"))
    }

  private lazy val q244 =
    // --------------------------------------------------------------- q244
    // Broadcast-join advisor — the planning table behind every
    // broadcast() decision this library makes: per table, the row
    // count, the estimated in-memory bytes (declared per-table row
    // widths; documents adds its actual character mass), and whether
    // it fits under the 10 MiB autoBroadcastJoinThreshold default.
    // The point at scale: dimension tables (region/nation) stay
    // broadcastable forever, fact tables (lineitem/orders/events)
    // cross the line at tiny SFs — exactly the split the PlanSpec
    // pins enforce qualitatively; this query makes it quantitative,
    // and at 100 TB it is the table a join planner would consult
    // before hinting. Count-star scans read parquet footers only.
    Q(
      "q244_broadcast_advisor",
      Some("""
        WITH t AS (
          SELECT 'region' AS tbl, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(32 AS BIGINT) AS width, CAST(0 AS BIGINT) AS extra
          FROM region
          UNION ALL SELECT 'nation', COUNT(*), 40, 0 FROM nation
          UNION ALL SELECT 'customer', COUNT(*), 80, 0 FROM customer
          UNION ALL SELECT 'supplier', COUNT(*), 72, 0 FROM supplier
          UNION ALL SELECT 'part', COUNT(*), 96, 0 FROM part
          UNION ALL SELECT 'orders', COUNT(*), 88, 0 FROM orders
          UNION ALL SELECT 'lineitem', COUNT(*), 120, 0 FROM lineitem
          UNION ALL SELECT 'events', COUNT(*), 96, 0 FROM events
          UNION ALL SELECT 'documents', COUNT(*), 24,
                 CAST(SUM(n_chars) AS BIGINT) FROM documents
          UNION ALL SELECT 'embeddings', COUNT(*), 272, 0 FROM embeddings)
        SELECT tbl, n, n * width + extra AS est_bytes,
               n * width + extra <= 10485760 AS broadcastable
        FROM t""")
    ) { (s, dir) =>
      def cnt(name: String, width: Long): DataFrame =
        t(s, dir, name).agg(count(lit(1)).as("n"))
          .select(lit(name).as("tbl"), col("n"), lit(width).as("width"),
            lit(0L).as("extra"))
      val docs = t(s, dir, "documents")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("extra"))
        .select(lit("documents").as("tbl"), col("n"),
          lit(24L).as("width"), col("extra"))
      Seq(cnt("region", 32), cnt("nation", 40), cnt("customer", 80),
        cnt("supplier", 72), cnt("part", 96), cnt("orders", 88),
        cnt("lineitem", 120), cnt("events", 96), docs,
        cnt("embeddings", 272))
        .reduce(_ unionByName _)
        .select(col("tbl"), col("n"),
          (col("n") * col("width") + col("extra")).as("est_bytes"),
          (col("n") * col("width") + col("extra") <= 10485760L)
            .as("broadcastable"))
    }

  private lazy val q240 =
    // --------------------------------------------------------------- q240
    // Packed-corpus offset assignment — the export step that turns a
    // document table into memory-mappable training shards: each doc
    // gets its shard (salted-hash mod 8, q67's reproducible routing —
    // no rand()) and its exact BYTE OFFSET inside that shard's packed
    // file, offset = exclusive prefix sum of (n_chars + 1) in
    // (doc_id) order (+1 for the separator byte). A trainer seeks to
    // the offset and reads len bytes — no index file needed beyond
    // this table. The prefix sum is one per-shard window (keyed, no
    // global sort); shard totals ride along so the writer can
    // preallocate. At 100 TB this IS the shard-writer's manifest:
    // one corpus pass, one window, deterministic bytes.
    Q(
      "q240_packed_offsets",
      Some(s"""
        WITH r AS (
          SELECT doc_id, n_chars,
                 ${graft.Knuth.sql("doc_id", 9176L)} % 8 AS shard
          FROM documents),
        w AS (
          SELECT doc_id, shard, n_chars,
                 CAST(SUM(n_chars + 1) OVER (PARTITION BY shard
                   ORDER BY doc_id) AS BIGINT) - (n_chars + 1) AS off,
                 CAST(SUM(n_chars + 1) OVER (PARTITION BY shard)
                   AS BIGINT) AS shard_bytes
          FROM r)
        SELECT doc_id, shard, off, CAST(n_chars AS BIGINT) AS len,
               shard_bytes
        FROM w""")
    ) { (s, dir) =>
      val r = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        expr(s"${graft.Knuth.sql("doc_id", 9176L)} % 8").as("shard"))
      val wRun = Window.partitionBy("shard").orderBy("doc_id")
      val wAll = Window.partitionBy("shard")
      r.select(col("doc_id"), col("shard"),
          (sum(col("n_chars") + 1).over(wRun) - (col("n_chars") + 1))
            .as("off"),
          col("n_chars").cast("long").as("len"),
          sum(col("n_chars") + 1).over(wAll).as("shard_bytes"))
        .select("doc_id", "shard", "off", "len", "shard_bytes")
    }

  private[queries] def hilbertDf(dims: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val h0 = dims.selectExpr("p_partkey", "x AS x0", "y AS y0",
      "CAST(0 AS BIGINT) AS d", "x", "y")
    (0 until 8).foldLeft(h0) { (h, i) =>
      val s = 128 >> i
      h.selectExpr("p_partkey", "x0", "y0", "d", "x", "y",
        s"CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx",
        s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry")
        .selectExpr("p_partkey", "x0", "y0",
          s"d + $s * $s * (2 * rx + (rx + ry) % 2) AS d",
          "CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - y ELSE y END) ELSE x END AS x",
          "CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - x ELSE x END) ELSE y END AS y")
    }
  }
}
