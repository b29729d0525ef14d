package graft

import java.nio.file.{Files, Path}

import scala.collection.JavaConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Differential fuzz harness against the DuckDB oracle.
  *
  * The 287 registry queries pin FIXED paths; this property harness
  * covers the semantic-drift classes a fixed registry can't — div/mod
  * sign behavior on negative operands, null ordering in window sorts,
  * 3VL IN/NOT IN, cast edges, decimal scale/rounding — by generating
  * random small relations and instantiating parameterized query
  * templates across thirteen operator families (agg, window, join,
  * string, div/mod/decimal, date, array/HOF, join semantics,
  * multi-grain/set-op, window frames, string surgery + regex, bitwise
  * semantics, recursive-CTE reachability), then
  * running BOTH engines over
  * the same
  * parquet bytes and comparing through the exact canonicalization the
  * driver's gate uses (tools/check_oracle.py: sorted columns, sorted
  * rows, str values).
  *
  * Templates are written in the registry's cross-engine discipline
  * (explicit NULLS FIRST/LAST, unique tiebreaks, BIGINT casts on
  * sums, NULLIF guards on divisors, per-engine spelling only where
  * the dialects genuinely differ: DIV vs //, STRING vs VARCHAR,
  * date_add vs date + n) — so a mismatch is a real semantic drift,
  * not a known dialect gap.
  *
  * The seed is logged for replay; set GRAFT_FUZZ_SEED to reproduce a
  * failing universe exactly.
  */
class FuzzSpec extends SparkSpec {

  private val seed: Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260815L)

  private case class FQ(name: String, sparkSql: String, duckSql: String)

  test("differential fuzz: 100 random relations × 13 template families match DuckDB") {
    assume(DuckOracle.available, "python3+duckdb oracle not available on this host")
    info(s"fuzz seed = $seed (set GRAFT_FUZZ_SEED to replay)")
    val rng = new scala.util.Random(seed)

    // ---- 1. generate relations: one parquet FILE each (both engines
    //         read the identical bytes), registered as Spark temp views
    val relDir = Files.createTempDirectory("graft-fuzz-rel")
    val outDir = Files.createTempDirectory("graft-fuzz-out")
    val nRel = 100
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("k", LongType, nullable = true),
      StructField("a", LongType, nullable = true),
      StructField("b", LongType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("dt", DateType, nullable = true)))
    val alphabet = "abcxyz XY" // spaces exercise TRIM; case exercises UPPER
    def randStr(): String = {
      val n = rng.nextInt(13)
      (0 until n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    (0 until nRel).foreach { t =>
      val n = 30 + rng.nextInt(171)
      val rows: java.util.List[Row] = (0 until n).map { i =>
        Row(
          i.toLong,
          if (rng.nextInt(10) == 0) null else rng.nextInt(8).toLong,
          if (rng.nextInt(8) == 0) null
          else (rng.nextInt(2000001) - 1000000).toLong,
          if (rng.nextInt(8) == 0) null else (rng.nextInt(201) - 100).toLong,
          if (rng.nextInt(10) == 0) null else randStr(),
          if (rng.nextInt(10) == 0) null
          else java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(17000L + rng.nextInt(4000))))
      }.asJava
      val name = f"t$t%03d"
      val stage = relDir.resolve(s"stage$t")
      spark.createDataFrame(rows, schema).coalesce(1)
        .write.parquet(stage.toString)
      val part = Files.list(stage)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, relDir.resolve(s"$name.parquet"))
      spark.read.parquet(relDir.resolve(s"$name.parquet").toString)
        .createOrReplaceTempView(name)
    }

    // ---- 2. instantiate templates
    def rel(): String = f"t${rng.nextInt(nRel)}%03d"
    val perFamily = 17
    val queries = scala.collection.mutable.ArrayBuffer[FQ]()

    // F1 agg: grouped aggregates with a mod-filter (negative operands
    // hit %'s sign behavior) and HAVING
    (0 until perFamily).foreach { i =>
      val t = rel(); val m = 2 + rng.nextInt(6)
      val r = rng.nextInt(2 * m - 1) - (m - 1); val h = rng.nextInt(3)
      val sql = s"""SELECT k, COUNT(*) AS n, COUNT(a) AS na,
        CAST(SUM(a) AS BIGINT) AS sa, MIN(b) AS mnb, MAX(b) AS mxb,
        MIN(dt) AS mndt, MAX(s) AS mxs
        FROM $t WHERE a IS NULL OR a % $m = $r
        GROUP BY k HAVING COUNT(*) > $h"""
      queries += FQ(f"f1_agg_$i%02d", sql, sql)
    }

    // F2 window: ranking + framed running sum + lag under explicit
    // null ordering, unique (sort key, id) tiebreak
    (0 until perFamily).foreach { i =>
      val t = rel()
      val dir = if (rng.nextBoolean()) "ASC NULLS FIRST" else "DESC NULLS LAST"
      val fn = Seq("ROW_NUMBER()", "RANK()", "DENSE_RANK()")(rng.nextInt(3))
      val p = 1 + rng.nextInt(4); val o = 1 + rng.nextInt(3)
      val sql = s"""SELECT id, k,
        $fn OVER (PARTITION BY k ORDER BY a $dir, id) AS rnk,
        CAST(SUM(a) OVER (PARTITION BY k ORDER BY a $dir, id
          ROWS BETWEEN $p PRECEDING AND CURRENT ROW) AS BIGINT) AS run,
        LAG(b, $o) OVER (PARTITION BY k ORDER BY a $dir, id) AS pb
        FROM $t"""
      queries += FQ(f"f2_win_$i%02d", sql, sql)
    }

    // F3 joins: inner-agg, left-agg, IN, guarded NOT IN (3VL)
    (0 until perFamily).foreach { i =>
      val (ta, tb) = (rel(), rel()); val c = rng.nextInt(101) - 50
      val sql = i % 4 match {
        case 0 => s"""SELECT x.k AS k, COUNT(*) AS n,
          CAST(SUM(x.a + y.b) AS BIGINT) AS sab
          FROM $ta x JOIN $tb y ON x.k = y.k GROUP BY x.k"""
        case 1 => s"""SELECT x.id AS id, x.k AS k, COALESCE(y.mb, -1) AS mb
          FROM $ta x LEFT JOIN
            (SELECT k, MIN(b) AS mb FROM $tb GROUP BY k) y ON x.k = y.k"""
        case 2 => s"""SELECT x.id AS id, x.a AS a FROM $ta x
          WHERE x.k IN (SELECT y.k FROM $tb y WHERE y.b > $c)"""
        case _ => s"""SELECT x.id AS id, x.a AS a FROM $ta x
          WHERE x.k NOT IN (SELECT y.k FROM $tb y
                            WHERE y.k IS NOT NULL AND y.b > $c)"""
      }
      queries += FQ(f"f3_join_$i%02d", sql, sql)
    }

    // F4 strings: case, length, substr, trim, NULLIF/COALESCE, LIKE,
    // null-propagating concat (|| in both; concat() diverges on NULL)
    (0 until perFamily).foreach { i =>
      val t = rel(); val p = 1 + rng.nextInt(4); val n = 1 + rng.nextInt(5)
      val c = "abcxyz".charAt(rng.nextInt(6))
      def sql(castStr: String) = s"""SELECT id,
        UPPER(s) AS us, LENGTH(s) AS ls, SUBSTR(s, $p, $n) AS ss,
        TRIM(s) AS ts, COALESCE(NULLIF(TRIM(s), ''), '-') AS ns,
        (s LIKE '%$c%') AS lk,
        s || '_' || CAST(id AS $castStr) AS cat
        FROM $t"""
      queries += FQ(f"f4_str_$i%02d", sql("STRING"), sql("VARCHAR"))
    }

    // F5 div/mod/decimal: remainder sign on negatives, integral
    // division truncation (Spark DIV vs DuckDB //), decimal scale
    // arithmetic under explicit result casts, decimal SUM
    (0 until perFamily).foreach { i =>
      val t = rel(); val c = rng.nextInt(20001) - 10000
      def sql(div: String) =
        if (i % 3 == 2) s"""SELECT k,
          CAST(SUM(CAST(a AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sd,
          CAST(SUM(b $div NULLIF(a % 7, 0)) AS BIGINT) AS sq
          FROM $t GROUP BY k"""
        else s"""SELECT id, a % NULLIF(b, 0) AS md, a $div NULLIF(b, 0) AS dv,
          CAST(CAST(a AS DECIMAL(18,4)) * CAST(COALESCE(b, 0) AS DECIMAL(10,2))
            AS DECIMAL(38,6)) AS pr,
          CAST(CAST(a AS DECIMAL(18,4)) + CAST($c AS DECIMAL(18,4))
            AS DECIMAL(19,4)) AS q,
          CAST(-a AS BIGINT) AS neg
          FROM $t"""
      queries += FQ(f"f5_dec_$i%02d", sql("DIV"), sql("//"))
    }

    // F6 dates: day arithmetic and field extraction (per-engine
    // spelling: date_add vs +, datediff arg conventions)
    (0 until perFamily).foreach { i =>
      val t = rel(); val d = 1 + rng.nextInt(30)
      val sSql = s"""SELECT id, date_add(dt, $d) AS dp, year(dt) AS y,
        month(dt) AS mo, day(dt) AS dm,
        datediff(dt, DATE '2020-01-01') AS dd FROM $t"""
      val dSql = s"""SELECT id, dt + $d AS dp, year(dt) AS y,
        month(dt) AS mo, day(dt) AS dm,
        CAST(datediff('day', DATE '2020-01-01', dt) AS BIGINT) AS dd FROM $t"""
      queries += FQ(f"f6_date_$i%02d", sSql, dSql)
    }

    // F7 arrays/HOFs: the engine-pair surface the registry leans on
    // hardest — transform/aggregate vs list_transform/list_aggregate,
    // sequence vs range (n ≥ 1 constant: an EMPTY list sums to the
    // init value in Spark but NULL in DuckDB — a real divergence the
    // registry's length guards exist for), sorted split-join,
    // element access, membership (all 3VL on null inputs)
    (0 until perFamily).foreach { i =>
      val t = rel(); val m = 2 + rng.nextInt(5)
      val sSql = s"""SELECT id,
        aggregate(transform(sequence(1, $m),
          i -> i * COALESCE(a % 10, 0)), 0L, (acc, x) -> acc + x) AS hs,
        array_join(array_sort(split(s, ' ')), '|') AS sj,
        element_at(split(s, ' '), 1) AS e1,
        array_contains(sequence(1, 5), a % 5) AS mem,
        size(split(s, ' ')) AS np
        FROM $t"""
      val dSql = s"""SELECT id,
        CAST(COALESCE(list_aggregate(list_transform(range(1, $m + 1),
          i -> i * COALESCE(a % 10, 0)), 'sum'), 0) AS BIGINT) AS hs,
        array_to_string(list_sort(string_split(s, ' ')), '|') AS sj,
        string_split(s, ' ')[1] AS e1,
        list_contains(range(1, 6), a % 5) AS mem,
        CAST(len(string_split(s, ' ')) AS INT) AS np
        FROM $t"""
      queries += FQ(f"f7_arr_$i%02d", sSql, dSql)
    }

    // F8 join semantics — where engine divergence classically hides:
    // FULL OUTER null-matching (a NULL key matches nothing yet both
    // sides' rows survive with NULL partners), UNGUARDED null-aware
    // NOT IN (one NULL in the subquery annihilates every non-match —
    // honest 3VL, deliberately WITHOUT F3's IS NOT NULL guard),
    // correlated EXISTS / NOT EXISTS (semi/anti, including NULL-key
    // probe rows that an anti join must KEEP), and the left-join +
    // IS NULL anti idiom (distinct-reduced build side)
    (0 until perFamily).foreach { i =>
      val (ta, tb) = (rel(), rel()); val c = rng.nextInt(101) - 50
      val sql = i % 5 match {
        case 0 => s"""SELECT x.id AS xid, y.id AS yid, x.k AS xk, y.k AS yk,
          COALESCE(x.b, 0) + COALESCE(y.b, 0) AS sb
          FROM $ta x FULL JOIN $tb y ON x.k = y.k AND x.id = y.id"""
        case 1 => s"""SELECT x.id AS id, x.k AS k FROM $ta x
          WHERE EXISTS (SELECT 1 FROM $tb y WHERE y.k = x.k AND y.b > $c)"""
        case 2 => s"""SELECT x.id AS id, x.k AS k FROM $ta x
          WHERE NOT EXISTS (SELECT 1 FROM $tb y WHERE y.k = x.k AND y.b > $c)"""
        case 3 => s"""SELECT x.id AS id, x.k AS k FROM $ta x
          WHERE x.k NOT IN (SELECT y.k FROM $tb y WHERE y.b > $c)"""
        case _ => s"""SELECT x.id AS id, x.k AS k FROM $ta x
          LEFT JOIN (SELECT DISTINCT k FROM $tb WHERE b > $c) y
            ON x.k = y.k
          WHERE y.k IS NULL"""
      }
      queries += FQ(f"f8_joinsem_$i%02d", sql, sql)
    }

    // F9 multi-grain aggregation + set-op NULL semantics: ROLLUP /
    // CUBE with GROUPING() disambiguation (a rolled-up NULL vs a real
    // NULL key), COUNT(DISTINCT) across grains, FILTER-clause
    // aggregates, and INTERSECT/EXCEPT/DISTINCT — where NULLs compare
    // EQUAL (the 3VL exception every engine must special-case)
    (0 until perFamily).foreach { i =>
      val (ta, tb) = (rel(), rel())
      val m = 2 + rng.nextInt(5); val c = rng.nextInt(101) - 50
      val sql = i % 5 match {
        case 0 => s"""SELECT k, g, CAST(GROUPING(k) AS BIGINT) AS gk,
          CAST(GROUPING(g) AS BIGINT) AS gg, COUNT(*) AS n,
          CAST(SUM(a) AS BIGINT) AS sa
          FROM (SELECT k, b % $m AS g, a FROM $ta) t
          GROUP BY ROLLUP(k, g)"""
        case 1 => s"""SELECT k, g, CAST(GROUPING(k) AS BIGINT) AS gk,
          CAST(GROUPING(g) AS BIGINT) AS gg,
          COUNT(DISTINCT a) AS nda, COUNT(*) AS n
          FROM (SELECT k, s IS NULL AS g, a FROM $ta) t
          GROUP BY CUBE(k, g)"""
        case 2 => s"""SELECT k, b FROM $ta INTERSECT SELECT k, b FROM $tb"""
        case 3 => s"""SELECT k, b FROM $ta EXCEPT SELECT k, b FROM $tb"""
        case _ => s"""SELECT k,
          COUNT(*) FILTER (WHERE a > $c) AS nf,
          CAST(SUM(a) FILTER (WHERE b % 2 = 0) AS BIGINT) AS sf2,
          COUNT(*) AS n
          FROM $ta GROUP BY k"""
      }
      queries += FQ(f"f9_grain_$i%02d", sql, sql)
    }

    // F10 window FRAMES — the classic cross-engine divergence pit the
    // ranking-oriented F2 doesn't systematically cover: offset RANGE
    // frames (frame membership by VALUE distance, with NULL order
    // keys forming their own peer group), the implicit default frame
    // under ORDER BY (RANGE UNBOUNDED PRECEDING..CURRENT ROW — peers
    // INCLUDED, so a non-unique sort key is deterministic by
    // construction), ROWS vs RANGE on the same sort (ROWS carries the
    // unique id tiebreak — a ROWS frame over a non-unique sort is
    // nondeterministic by definition), INTERVAL frames over dates,
    // and FOLLOWING-anchored tails. All framed expressions are
    // aggregates of the frame SET (never positional picks), so every
    // output is a pure function of (partition, order-key value).
    (0 until perFamily).foreach { i =>
      val t = rel()
      val x = 1 + rng.nextInt(50); val y = 1 + rng.nextInt(50)
      val p = rng.nextInt(4); val q = rng.nextInt(4)
      val d = 1 + rng.nextInt(60)
      def sql(ivl: String) = i % 5 match {
        case 0 => s"""SELECT id, k, a,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST
            RANGE BETWEEN $x PRECEDING AND $y FOLLOWING) AS BIGINT) AS rs,
          COUNT(*) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST
            RANGE BETWEEN $x PRECEDING AND CURRENT ROW) AS rc,
          MIN(a) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST
            RANGE BETWEEN $x PRECEDING AND $y FOLLOWING) AS rmn
          FROM $t"""
        case 1 => s"""SELECT id, k, a,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a DESC NULLS LAST)
            AS BIGINT) AS dsum,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a DESC NULLS LAST
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS esum,
          COUNT(*) OVER (PARTITION BY k ORDER BY a DESC NULLS LAST) AS dcnt
          FROM $t"""
        case 2 => s"""SELECT id, k, a,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST, id
            ROWS BETWEEN $p PRECEDING AND $q FOLLOWING) AS BIGINT) AS rows_s,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST
            RANGE BETWEEN $p PRECEDING AND $q FOLLOWING) AS BIGINT) AS range_s,
          COUNT(*) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND $q FOLLOWING) AS rows_c
          FROM $t"""
        case 3 => s"""SELECT id, k, dt,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY dt ASC NULLS FIRST
            RANGE BETWEEN $ivl PRECEDING AND CURRENT ROW) AS BIGINT) AS ds,
          COUNT(*) OVER (PARTITION BY k ORDER BY dt ASC NULLS FIRST
            RANGE BETWEEN $ivl PRECEDING AND CURRENT ROW) AS dc,
          MIN(dt) OVER (PARTITION BY k ORDER BY dt ASC NULLS FIRST
            RANGE BETWEEN $ivl PRECEDING AND CURRENT ROW) AS dmn
          FROM $t"""
        case _ => s"""SELECT id, k, a,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST
            RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            AS BIGINT) AS tail_s,
          CAST(SUM(b) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST, id
            ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS fwd_s,
          COUNT(*) OVER (PARTITION BY k ORDER BY a ASC NULLS FIRST
            RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tail_c
          FROM $t"""
      }
      queries += FQ(f"f10_frame_$i%02d",
        sql(s"INTERVAL $d DAYS"), sql(s"INTERVAL $d DAYS"))
    }

    // F11 string surgery + regex semantics — the positional /
    // pattern-matching surface F4's basics don't cover: split_part
    // indexing, instr positions (0 when absent), multi-char lpad/rpad
    // truncation, left/right slices, replace/reverse/repeat/translate,
    // occurrence counting via length arithmetic, GUARDED regexp
    // extraction (no-match → '' on both engines via an explicit CASE),
    // regexp_replace (global in Spark by default, needs the 'g' flag
    // in DuckDB — a genuine dialect gap, spelled per-engine), and
    // grouped MIN/MAX under binary collation (mixed case + spaces).
    (0 until perFamily).foreach { i =>
      val t = rel(); val n = 1 + rng.nextInt(4); val w = 2 + rng.nextInt(12)
      val r = 1 + rng.nextInt(3)
      val c = "abcxyz".charAt(rng.nextInt(6))
      val pat = Seq("[abc]+", "[xyz][xyz]", "a.c", "x[yY]?").apply(rng.nextInt(4))
      val (sSql, dSql) = i % 4 match {
        case 0 =>
          // dialect gap: DuckDB split_part returns '' on NULL input
          // (PostgreSQL compatibility); Spark propagates NULL — guard
          // the DuckDB side so the template tests INDEXING semantics
          val body = s"""instr(s, '$c') AS ip, lpad(s, $w, 'xy') AS lp,
            rpad(s, $w, '.') AS rp, left(s, $n) AS lf, right(s, $n) AS rt
            FROM $t"""
          (s"SELECT id, split_part(s, ' ', $n) AS sp, $body",
           s"""SELECT id, CASE WHEN s IS NULL THEN NULL
              ELSE split_part(s, ' ', $n) END AS sp, $body""")
        case 1 =>
          val q = s"""SELECT id, replace(s, '$c', '##') AS rep,
            reverse(s) AS rev, repeat(s, $r) AS rpt,
            translate(s, 'abc', 'XYZ') AS tr,
            length(s) - length(replace(s, '$c', '')) AS occ
            FROM $t"""
          (q, q)
        case 2 =>
          (s"""SELECT id,
            CASE WHEN s RLIKE '$pat'
                 THEN regexp_extract(s, '($pat)', 1) ELSE '' END AS rx,
            regexp_replace(s, '$pat', '#') AS rr,
            (s RLIKE '$pat') AS rl
            FROM $t""",
           s"""SELECT id,
            CASE WHEN regexp_matches(s, '$pat')
                 THEN regexp_extract(s, '($pat)', 1) ELSE '' END AS rx,
            regexp_replace(s, '$pat', '#', 'g') AS rr,
            regexp_matches(s, '$pat') AS rl
            FROM $t""")
        case _ =>
          val q = s"""SELECT k, MIN(s) AS mns, MAX(s) AS mxs,
            MIN(LENGTH(s)) AS mnl, MAX(UPPER(s)) AS mxu, COUNT(s) AS ns
            FROM $t GROUP BY k"""
          (q, q)
      }
      queries += FQ(f"f11_str2_$i%02d", sSql, dSql)
    }

    // F12 bitwise + bit-string semantics — the integer-bit surface the
    // q306 discrete-Laplace mechanism leans on: AND/OR/NOT and
    // two's-complement masks (negative operands included — both
    // engines are 64-bit two's complement), XOR (a genuine dialect
    // gap: Spark `a ^ b`, DuckDB `xor(a, b)`), the trailing-zero
    // idiom ctz(h) = length(bin(xor(h, h−1))) − 1 on guarded
    // nonnegative words, bit-length via length(bin(h)), popcount
    // (bit_count both engines), shift/div equivalence on nonneg
    // (shiftright(h, n) = h div 2^n; Spark spells shiftleft/
    // shiftright, DuckDB << / >>), and the grouped bit_and / bit_or /
    // bit_xor aggregates under NULLs.
    (0 until perFamily).foreach { i =>
      val t = rel(); val m = rng.nextInt(255) + 1
      val n = 1 + rng.nextInt(12); val w = 16 + rng.nextInt(5)
      val (sSql, dSql) = i % 4 match {
        case 0 =>
          // masks + NOT on signed values; XOR spelled per engine
          val body = s"(a & $m) AS am, (a | $m) AS om, (~a) AS na, (b & a) AS ba FROM $t"
          (s"SELECT id, (a ^ $m) AS xm, $body",
           s"SELECT id, xor(a, $m) AS xm, $body")
        case 1 =>
          // ctz / bitlen / popcount on a guarded nonneg word
          val h = s"(abs(a) % ${1L << w})"
          (s"""SELECT id,
            CASE WHEN a IS NULL THEN NULL WHEN $h = 0 THEN $w
                 ELSE length(bin($h ^ ($h - 1))) - 1 END AS ctz,
            CASE WHEN $h > 0 THEN length(bin($h)) ELSE 0 END AS bl,
            bit_count($h) AS pc FROM $t""",
           s"""SELECT id,
            CASE WHEN a IS NULL THEN NULL WHEN $h = 0 THEN $w
                 ELSE length(bin(xor($h, $h - 1))) - 1 END AS ctz,
            CASE WHEN $h > 0 THEN length(bin($h)) ELSE 0 END AS bl,
            bit_count($h) AS pc FROM $t""")
        case 2 =>
          // shift/div equivalence on nonneg; per-engine shift spelling
          val h = s"(abs(a) % 1048576)"
          (s"""SELECT id, shiftleft($h, $n) AS sl, shiftright($h, $n) AS sr,
            ($h div ${1L << n}) AS dv,
            (shiftright($h, $n) = ($h div ${1L << n})) AS eqv FROM $t""",
           s"""SELECT id, ($h << $n) AS sl, ($h >> $n) AS sr,
            ($h // ${1L << n}) AS dv,
            (($h >> $n) = ($h // ${1L << n})) AS eqv FROM $t""")
        case _ =>
          val q = s"""SELECT k, bit_and(b) AS ab, bit_or(b) AS ob,
            bit_xor(b) AS xb, CAST(SUM(bit_count(b)) AS BIGINT) AS spc
            FROM $t GROUP BY k"""
          (q, q)
      }
      queries += FQ(f"f12_bits_$i%02d", sSql, dSql)
    }

    // F13 recursion: depth-bounded reachability over a random edge
    // relation via WITH RECURSIVE — the q104/q309 operator surface
    // under fuzz: identical UNION ALL multiset semantics, recursive
    // join scheduling, and walk-count arithmetic in both engines
    // (Spark 4 recursive CTEs == DuckDB's). Edges are DISTINCT and
    // the node domain is ≤ 8 × md, so walk counts stay bounded
    // (Σ deg^d ≤ 8^4) and exactly countable. One SQL text for both
    // engines — no dialect split.
    (0 until perFamily).foreach { i =>
      val t = rel(); val md = 3 + rng.nextInt(6)
      val d = 2 + rng.nextInt(3); val s1 = rng.nextInt(8)
      val edge = i % 3 match {
        case 0 => s"SELECT DISTINCT k AS src, ((a % $md) + $md) % $md AS dst " +
          s"FROM $t WHERE k IS NOT NULL AND a IS NOT NULL"
        case 1 => s"SELECT DISTINCT ((a % $md) + $md) % $md AS src, k AS dst " +
          s"FROM $t WHERE k IS NOT NULL AND a IS NOT NULL"
        case _ => s"SELECT DISTINCT k AS src, ((b % $md) + $md) % $md AS dst " +
          s"FROM $t WHERE k IS NOT NULL AND b IS NOT NULL AND k <> ((b % $md) + $md) % $md"
      }
      val anchor =
        if (i % 2 == 0) s"SELECT CAST($s1 AS BIGINT) AS node, 0 AS depth"
        else {
          val s2 = rng.nextInt(8)
          s"SELECT v.node, 0 AS depth FROM (VALUES (CAST($s1 AS BIGINT)), " +
            s"(CAST($s2 AS BIGINT))) v(node)"
        }
      val sql = s"""WITH RECURSIVE e AS ($edge),
        reach(node, depth) AS (
          $anchor
          UNION ALL
          SELECT e.dst AS node, r.depth + 1 AS depth
          FROM reach r JOIN e ON e.src = r.node
          WHERE r.depth < $d)
        SELECT node, CAST(MIN(depth) AS BIGINT) AS hops, COUNT(*) AS n_walks
        FROM reach GROUP BY node"""
      queries += FQ(f"f13_rec_$i%02d", sql, sql)
    }

    // ---- 3. run the Spark side, dump results + oracle SQL in the
    //         exact layout the driver's gate consumes
    queries.foreach { fq =>
      spark.sql(fq.sparkSql).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve(fq.name).toString)
    }
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    Files.writeString(outDir.resolve("oracle_sql.json"),
      queries.map(q => s"${jq(q.name)}: ${jq(q.duckSql)}")
        .mkString("{", ",", "}"))

    // ---- 4. DuckDB replays every query over the same parquet bytes
    val (rc, report) = DuckOracle.check(relDir.toString, outDir.toString)
    val fails = report.filter(_.startsWith("FAIL"))
    assert(rc == 0 && fails.isEmpty,
      s"fuzz mismatches (seed=$seed):\n${fails.take(10).mkString("\n")}")
    val oks = report.count(_.startsWith("OK"))
    assert(oks == queries.size, s"expected ${queries.size} OK rows, got $oks")
    info(s"$oks fuzz queries matched DuckDB exactly")
  }
}
