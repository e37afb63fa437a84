package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}

/** EXACT distributed order statistics without a global sort — the two
  * scale patterns for "give me the real median/p90, not a sketch"
  * (dataset cards and dedup-threshold calibration want exact numbers;
  * `q_approx_quantile` is the mergeable-sketch path, oracle-gated
  * on the engine's own cents histogram since round 9):
  *
  *  - unbounded value domain (`q_exact_quantiles`): RADIX selection
  *    over order-preserving double bits (the distributed
  *    exact-selection algorithm, integer edition): count rows per
  *    16-bit prefix of `sortable_bits(v)` (a ≤2¹⁶-row aggregate
  *    collected to the driver, like PageRank's convergence scalars),
  *    keep the one prefix holding the target rank, extend the prefix
  *    by 16 bits, repeat — at most 4 passes to a fully determined
  *    64-bit value, usually 1–2 before the slice fits the rank cap.
  *    A bucket holding 90% of a Zipfian column (the round-6 stress
  *    case: 18 s as a single-level plan) just refines one extra round;
  *    an all-duplicates column bottoms out at shift 0 where the prefix
  *    IS the answer. Bucket keys are pure integer bit arithmetic (no
  *    log/division monotonicity hazards), while each slice's row
  *    filter is the equivalent closed VALUE interval — exact, because
  *    the bit transform is a monotone bijection — expressed as plain
  *    double comparisons that push into parquet row-group min/max
  *    pruning. Only the terminal ≤cap-row slice ever sees a ranking
  *    window.
  *  - bounded value domain (`ta_doclen_quantiles`): the value
  *    histogram IS the sufficient statistic — one (group, value)
  *    aggregation, cumulative counts over the bounded distinct-value
  *    frame, then every quantile falls out of a conditional min. No
  *    per-row ranking at all.
  *
  * All ranks are exact integer definitions (k = ⌈q·n⌉ via integer
  * ceiling division), so both engines select the identical element —
  * no interpolation, no FP in the selection itself.
  */
object QuantileQueries {

  /** Bits resolved per radix round: rounds walk shift 48 → 32 → 16 →
    * 0, each counting ≤2¹⁶ buckets per target. The first round is the
    * only full scan (it also yields n); later rounds carry a narrowing
    * range predicate.
    */
  val RadixBitsPerRound = 16

  /** A terminal slice no larger than this is ranked in one window
    * group — the only per-row sort anywhere in the query.
    */
  val RankCap = 100000L

  /** One target's state after each round: rank `r` within the slice
    * `sortable_bits(v) >> shift == prefix`, which holds `cnt` rows.
    */
  private final case class Slice(stat: String, r: Long, prefix: Long,
                                 shift: Int, cnt: Long)

  /** Exact k-th values of `rows(valueCol)` for each (stat, n → k)
    * target, by radix selection. NaNs sort above +∞ in bit order but
    * fall outside every value-interval filter — a rank landing on a
    * NaN fails loudly in the histogram walk rather than returning a
    * wrong element. ±0.0 occupy adjacent bit patterns, so a rank
    * landing on either reports a zero.
    *
    * Driver-side state is BOUNDED by design: each pass `.collect()`s
    * only a ≤2¹⁶-row bucket histogram (≤4 passes total — 64 bits /
    * 16 bits per round) to pick the next slice, the deliberate,
    * AQE-like exception to SCALE.md's "no data-sized collect" rule —
    * the data itself never reaches the driver.
    */
  def kthValues(s: SparkSession, rows: DataFrame, valueCol: String,
                targets: Seq[(String, Long => Long)]): DataFrame = {
    import s.implicits._
    import graft.functions.DoubleSortableBits
    val v = col(valueCol)
    val bits = DoubleSortableBits.sortable_bits(v)

    // The value interval covered by a (prefix, shift) slice, as exact
    // doubles: monotone bijection ⇒ the bit-prefix set IS this closed
    // interval, so the filter can be plain (pushdown-friendly) double
    // comparisons instead of a bit-arithmetic predicate.
    def sliceCond(prefix: Long, shift: Int): Column =
      v >= DoubleSortableBits.toDouble(prefix << shift) &&
        v <= DoubleSortableBits.toDouble((prefix << shift) | ((1L << shift) - 1))

    // Walk a bucket histogram (ascending key = ascending value) to the
    // bucket containing rank r: (bucket, rows before it, its count).
    def walk(stat: String, buckets: Seq[(Long, Long)], r: Long): (Long, Long, Long) = {
      var cum = 0L
      buckets.find { case (_, c) =>
        if (cum + c >= r) true else { cum += c; false }
      }.map { case (b, c) => (b, cum, c) }
        .getOrElse(throw new IllegalStateException(
          s"$stat: rank $r beyond $cum counted rows"))
    }

    // Round 1 — the single unpruned pass, doubling as the count(n)
    // pass: histogram of the top 16 bits.
    val topShift = 64 - RadixBitsPerRound
    val first = rows.groupBy(shiftright(bits, topShift).as("bucket"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val n = first.map(_._2).sum
    if (n == 0L) return Seq.empty[(String, Double)].toDF("stat", "value")

    var slices: Seq[Slice] = targets.map { case (stat, kOf) =>
      val (b, cumBefore, cnt) = walk(stat, first, kOf(n))
      Slice(stat, kOf(n) - cumBefore, b, topShift, cnt)
    }
    // Refine every oversized slice by 16 more bits per pass (all
    // pending targets share each pass; a shift-s slice has ≤2¹⁶
    // distinct next-level keys by construction).
    while (slices.exists(sl => sl.cnt > RankCap && sl.shift > 0)) {
      val pending = slices.filter(sl => sl.cnt > RankCap && sl.shift > 0)
      val counts = pending.map { sl =>
          rows.filter(sliceCond(sl.prefix, sl.shift))
            .select(lit(sl.stat).as("stat"),
              shiftright(bits, sl.shift - RadixBitsPerRound).as("bucket"))
        }
        .reduce(_ union _)
        .groupBy("stat", "bucket").agg(count(lit(1)).as("c"))
        .collect()
        .groupBy(_.getString(0))
        .map { case (stat, rs) =>
          stat -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
        }
      slices = slices.map {
        case sl if sl.cnt > RankCap && sl.shift > 0 =>
          val (b, cumBefore, cnt) = walk(sl.stat, counts(sl.stat), sl.r)
          Slice(sl.stat, sl.r - cumBefore, b, sl.shift - RadixBitsPerRound, cnt)
        case sl => sl
      }
    }

    // shift 0 ⇒ the prefix is the complete bit pattern: the answer is
    // a literal, no matter how many duplicate rows carry it. Otherwise
    // rank the ≤cap-row slice in one per-stat window group.
    val answered = slices.collect {
      case sl if sl.shift == 0 => (sl.stat, DoubleSortableBits.toDouble(sl.prefix))
    }
    val literal =
      if (answered.isEmpty) None else Some(answered.toDF("stat", "value"))
    val rankable = slices.filter(_.shift > 0)
    val ranked =
      if (rankable.isEmpty) None
      else {
        val wRank = Window.partitionBy(col("stat")).orderBy(col("value"))
        Some(rankable.map { sl =>
            rows.filter(sliceCond(sl.prefix, sl.shift))
              .select(lit(sl.stat).as("stat"), v.as("value"), lit(sl.r).as("k"))
          }
          .reduce(_ union _)
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") === col("k"))
          .select("stat", "value"))
      }
    (literal.toSeq ++ ranked.toSeq).reduce(_ union _).orderBy("stat")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(

    // Exact median and p90 of a 6M-row (→ 100 TB) double column via
    // adaptive refinement; ties are harmless (the k-th VALUE of a
    // multiset is order-independent), so the result is engine-exact.
    "q_exact_quantiles" -> ((s, dir) => {
      kthValues(s,
        Tables.lineitem(s, dir).select(col("l_extendedprice").as("v")), "v",
        Seq("median" -> ((n: Long) => (n + 1) / 2),
          "p90" -> ((n: Long) => (9 * n + 9) / 10)))
    }),

    // Per-language exact p25/p50/p75/p90 of document length. n_chars
    // has a bounded domain (≤ max document length distinct values), so
    // the (lang, n_chars) histogram is tiny relative to the corpus and
    // the cumulative window runs over it, not over documents. Each
    // quantile is min{v : cum(v) ≥ ⌈q·n⌉} — a conditional min, no row
    // ranking anywhere.
    "ta_doclen_quantiles" -> ((s, dir) => {
      val hist = Tables.documents(s, dir)
        .groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      val wAll = Window.partitionBy(col("lang"))
      val cum = hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
      def pct(q: Int) = min(when(
        col("cum") >= expr(s"($q * n + 99) DIV 100"), col("n_chars")))
        .as(s"p$q")
      cum.groupBy("lang")
        .agg(pct(25), pct(50), pct(75), pct(90))
        .orderBy("lang")
    }),

    // Winsorization — the outlier-clipping step of feature prep, at
    // EXACT percentiles: clip l_extendedprice to [p01, p99] found by
    // the same radix selection as q_exact_quantiles (no global sort),
    // then report per-flag counts, the clipped sum, and how many rows
    // each tail clipped. The two cut values pivot to a 1-row frame and
    // broadcast into a narrow clip pass — the corpus is scanned by the
    // selection rounds and once more to clip, never sorted.
    "q_winsorize" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val cuts = kthValues(s, li.select("v"), "v",
          Seq("p01" -> ((n: Long) => (n + 99) / 100),
            "p99" -> ((n: Long) => (99 * n + 99) / 100)))
        .groupBy().pivot("stat", Seq("p01", "p99")).agg(first(col("value")))
      li.crossJoin(broadcast(cuts))
        .select(col("l_returnflag"),
          when(col("v") < col("p01"), col("p01"))
            .when(col("v") > col("p99"), col("p99"))
            .otherwise(col("v")).as("w"),
          (col("v") < col("p01")).cast("long").as("lo"),
          (col("v") > col("p99")).cast("long").as("hi"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          Agg.dsum(col("w")).as("sum_winsorized"),
          sum(col("lo")).as("n_clipped_low"),
          sum(col("hi")).as("n_clipped_high"))
        .orderBy("l_returnflag")
    }),

    // Robust statistics: EXACT median absolute deviation — the
    // outlier-resistant spread measure (σ explodes under heavy tails;
    // MAD doesn't), computed as TWO chained radix selections with no
    // global sort anywhere: the median of v, broadcast into a narrow
    // |v − median| projection, then the median of that derived column
    // by the same ≤4-pass bucket refinement. The outlier census uses
    // the 3·MAD fence directly (an integer multiple — no 1.4826
    // normal-consistency float enters the verified contract; both
    // engines evaluate the identical |v−med| > 3·mad IEEE op tree on
    // identical doubles). One row out: (median, mad, n_outliers).
    "q_mad" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
      val med = kthValues(s, li, "v",
          Seq("median" -> ((n: Long) => (n + 1) / 2)))
        .select(col("value").as("med"))
      val dev = li.crossJoin(broadcast(med))
        .select(abs(col("v") - col("med")).as("d"))
      val mad = kthValues(s, dev, "d",
          Seq("mad" -> ((n: Long) => (n + 1) / 2)))
        .select(col("value").as("mad"))
      li.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
        .agg(first(col("med")).as("median"), first(col("mad")).as("mad"),
          sum(when(abs(col("v") - col("med")) > lit(3.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
    }),

    // Equi-DEPTH histogram (10 bins of ~equal row count) — the
    // profiling view q_histogram's fixed-width bins can't give on a
    // skewed column, and the statistic real optimizers keep: 9 exact
    // decile cuts from ONE radix selection (all targets share each
    // counting pass), pivoted to a 1-row broadcast; bin assignment is
    // a narrow array countUnder pass. A row at a cut value goes to the
    // first bin whose cut bounds it, so duplicate-heavy columns skew
    // bin counts honestly instead of splitting ties arbitrarily.
    "q_histogram_equidepth" -> ((s, dir) => {
      val names = (1 to 9).map(k => s"c$k")
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
      val cuts = kthValues(s, li, "v",
          (1 to 9).map(k => (s"c$k", (n: Long) => (k * n + 9) / 10)))
        .groupBy().pivot("stat", names).agg(first(col("value")))
      li.crossJoin(broadcast(cuts))
        .withColumn("bin",
          (lit(1) + size(filter(array(names.map(col): _*), c => col("v") > c)))
            .cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"))
        .orderBy("bin")
    })
  )

  val oracleSql: Map[String, String] = Registry.of(
    "q_exact_quantiles" ->
      """WITH ranked AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT 'median' AS stat, v AS value FROM ranked WHERE rn = (n + 1) // 2
        |UNION ALL
        |SELECT 'p90' AS stat, v AS value FROM ranked WHERE rn = (9 * n + 9) // 10
        |ORDER BY stat""".stripMargin,
    "q_mad" ->
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem),
        |med AS (SELECT v AS med FROM r WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT abs(v - med) AS d,
        |    row_number() OVER (ORDER BY abs(v - med)) AS rn,
        |    count(*) OVER () AS n
        |  FROM r, med),
        |mad AS (SELECT d AS mad FROM dev WHERE rn = (n + 1) // 2)
        |SELECT med AS median, mad,
        |  CAST(sum(CASE WHEN abs(v - med) > 3.0 * mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM r, med, mad
        |GROUP BY med, mad""".stripMargin,
    "ta_doclen_quantiles" ->
      """WITH h AS (
        |  SELECT lang, n_chars, count(*) AS c
        |  FROM documents GROUP BY lang, n_chars),
        |cumt AS (
        |  SELECT lang, n_chars,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT lang,
        |  CAST(min(CASE WHEN cum >= (25 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p25,
        |  CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cum >= (75 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p75,
        |  CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p90
        |FROM cumt GROUP BY lang ORDER BY lang""".stripMargin,
    "q_winsorize" ->
      """WITH v AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n
        |      FROM v),
        |cuts AS (SELECT
        |    max(CASE WHEN rn = (n + 99) // 100 THEN v END) AS p01,
        |    max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS p99
        |  FROM r)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN v < p01 THEN p01
        |                     WHEN v > p99 THEN p99
        |                     ELSE v END AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_winsorized,
        |  CAST(sum(CASE WHEN v < p01 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high
        |FROM v, cuts GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_histogram_equidepth" -> {
      val cutCols = (1 to 9).map(k =>
        s"max(CASE WHEN rn = ($k * n + 9) // 10 THEN v END) AS c$k").mkString(",\n    ")
      val binExpr = (1 to 9).map(k =>
        s"(CASE WHEN v.v > c$k THEN 1 ELSE 0 END)").mkString(" +\n      ")
      s"""WITH v AS (SELECT l_extendedprice AS v FROM lineitem),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
         |             count(*) OVER () AS n
         |      FROM v),
         |cuts AS (SELECT
         |    $cutCols
         |  FROM r),
         |b AS (SELECT v.v, 1 +
         |      $binExpr AS bin
         |    FROM v, cuts)
         |SELECT CAST(bin AS INT) AS bin, count(*) AS n_rows,
         |  min(v) AS min_v, max(v) AS max_v
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin
    }
  )
}
