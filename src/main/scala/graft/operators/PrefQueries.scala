package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}

/** Preference-ranking operators — the pairwise-comparison shape at the
  * heart of preference-tuning data pipelines (which response won, how
  * strong is each policy): a distributed duel matrix, and a
  * Bradley–Terry strength fit over it.
  *
  * Reference scope: the reference engine (WordCount only —
  * `Worker.cc:123-274`) has no analytics surface; these extend the
  * LLM-data-pipeline families the brief mandates. Preferences are
  * derived deterministically from the `events` table: within each
  * user, event type A beats event type B when the user's total spend
  * (cents, `floor(value·100)` per row — the exact-integer money
  * convention used across the ev_* family) on A exceeds that on B.
  *
  * Scale shape: the per-user aggregate and the user-keyed self-join
  * shuffle on `user_id` (co-partitioned, skew-free — each user emits
  * ≤ K² duel rows where K is the event-type vocabulary, a
  * schema-scale constant). Everything corpus-sized stays distributed;
  * only the K-row model fit runs on the driver (see
  * ev_bradley_terry's comment).
  */
object PrefQueries {

  /** Per-user total cents per event type — the duel input. */
  private def perUserCents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .groupBy("user_id", "event_type")
      .agg(sum(col("cents")).as("c"))

  /** Unordered duel matrix (type_a < type_b): decisive wins each way,
    * ties, and the number of users voting.
    */
  private def duels(s: SparkSession, dir: String): DataFrame = {
    val pu = perUserCents(s, dir)
    val a = pu.select(col("user_id"), col("event_type").as("type_a"),
      col("c").as("ca"))
    val b = pu.select(col("user_id"), col("event_type").as("type_b"),
      col("c").as("cb"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(
        sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("wins_a"),
        sum(when(col("cb") > col("ca"), 1L).otherwise(0L)).as("wins_b"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("n_ties"),
        count(lit(1)).as("n_users"))
  }

  /** Bradley–Terry fixed-point iteration over the collected duel
    * matrix, exact BigInt arithmetic in micro-units. Returns
    * (event_type, n_wins, n_comps, gamma_micro, rank) rows.
    *
    * The arithmetic contract (mirrored literally by the HUGEINT
    * oracle, all floor divisions on non-negative integers):
    *   g⁰_i = 10⁶
    *   D_i  = Σ_j ⌊n_ij·10¹² / max(g_i + g_j, 1)⌋
    *   g'_i = ⌊W_i·10¹² / D_i⌋            (0 when D_i = 0)
    *   g_i  = ⌊g'_i·K·10⁶ / Σ g'⌋          (mean-1 normalization)
    * for [[BtIters]] rounds. Intermediates stay under 2⁷⁰ for any
    * corpus with ≤ 10⁹ comparisons — comfortably inside int128 on the
    * oracle side; BigInt here.
    */
  private[graft] def bradleyTerry(
      mat: Seq[(String, String, Long, Long)]): Seq[(String, Long, Long, Long, Long)] = {
    val M = BigInt(1000000L)
    val T = M * M // 10¹²
    // both orientations: (i, j, n_ij, wins of i over j)
    val edges = mat.flatMap { case (ta, tb, wa, wb) =>
      Seq((ta, tb, wa + wb, wa), (tb, ta, wa + wb, wb))
    }
    val types = edges.map(_._1).distinct.sorted
    val wins = edges.groupBy(_._1).map { case (t, es) =>
      t -> es.map(e => BigInt(e._4)).sum }
    val comps = edges.groupBy(_._1).map { case (t, es) =>
      t -> es.map(_._3).sum }
    val k = BigInt(types.size)
    var g: Map[String, BigInt] = types.map(_ -> M).toMap
    for (_ <- 1 to BtIters) {
      val d = edges.groupBy(_._1).map { case (i, es) =>
        i -> es.map { case (_, j, n, _) =>
          BigInt(n) * T / (g(i) + g(j)).max(BigInt(1)) }.sum
      }
      val gp = types.map { t =>
        t -> (if (d(t) == BigInt(0)) BigInt(0) else wins(t) * T / d(t)) }.toMap
      val sum = gp.values.sum
      g = types.map { t =>
        t -> (if (sum == BigInt(0)) BigInt(0) else gp(t) * k * M / sum) }.toMap
    }
    val ranked = types.sortBy(t => (-g(t), t)).zipWithIndex
      .map { case (t, i) => t -> (i + 1L) }.toMap
    types.map(t =>
      (t, wins(t).toLong, comps(t), g(t).toLong, ranked(t)))
  }

  val BtIters = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(

    // PAIRWISE PREFERENCE MATRIX — the raw artifact a preference
    // pipeline materializes before any model fit: for every unordered
    // event-type pair, how many users decisively preferred each side
    // (by exact cents spend) and how many tied. Fully distributed:
    // one user-keyed aggregate, one co-partitioned self-join, and a
    // K²-bounded result (K = type vocabulary).
    "ev_pref_matrix" -> ((s, dir) =>
      duels(s, dir)
        .select("type_a", "type_b", "wins_a", "wins_b", "n_ties", "n_users")
        .orderBy("type_a", "type_b")),

    // BRADLEY–TERRY STRENGTHS — the minorization fit over the duel
    // matrix (Hunter 2004's MM update, fixed-point micro-integer
    // form): γ_i = W_i / Σ_j n_ij/(γ_i+γ_j), iterated BtIters times
    // from uniform, normalized to mean 1 each round so the scale-free
    // family has one representative. Corpus-scale work (per-user
    // aggregate + duel join) is distributed; the fit itself runs on
    // the driver over the COLLECTED duel matrix — a ≤K²-row model
    // frame (K = event-type vocabulary, a schema constant ≪ corpus),
    // the same bounded-collect class as the Viterbi vocab map and the
    // radix histograms. At 100 TB the matrix is still K² rows; only
    // the aggregation underneath scales. Exact BigInt arithmetic end
    // to end — the oracle replays the identical iterations in
    // HUGEINT, unrolled one CTE block per round.
    "ev_bradley_terry" -> ((s, dir) => {
      import s.implicits._
      val mat = duels(s, dir)
        .filter(col("wins_a") + col("wins_b") > 0)
        .select("type_a", "type_b", "wins_a", "wins_b")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      bradleyTerry(mat)
        .toDF("event_type", "n_wins", "n_comps", "gamma_micro", "rank")
        .orderBy("event_type")
    })
  )

  /** The shared duel-matrix SQL prefix (CTE bodies). */
  private val duelCtes =
    """peruser AS MATERIALIZED (
      |  SELECT user_id, event_type,
      |    CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |duel AS MATERIALIZED (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
      |    CAST(sum(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS BIGINT) AS wins_b,
      |    CAST(sum(CASE WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
      |    CAST(count(*) AS BIGINT) AS n_users
      |  FROM peruser a JOIN peruser b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)""".stripMargin

  /** One unrolled Bradley–Terry round: g{r} from g{r-1}. */
  private def btRound(r: Int): String = {
    val p = r - 1
    s"""d$r AS MATERIALIZED (
       |  SELECT e.i AS t,
       |    sum((CAST(e.n AS HUGEINT) * 1000000000000)
       |      // greatest(ga.g + gb.g, 1)) AS d
       |  FROM edges e
       |  JOIN g$p ga ON ga.t = e.i
       |  JOIN g$p gb ON gb.t = e.j
       |  GROUP BY 1),
       |p$r AS MATERIALIZED (
       |  SELECT s.t,
       |    CASE WHEN d.d = 0 THEN CAST(0 AS HUGEINT)
       |         ELSE (s.wins * 1000000000000) // d.d END AS gp
       |  FROM stats s JOIN d$r d ON d.t = s.t),
       |g$r AS MATERIALIZED (
       |  SELECT p.t,
       |    CASE WHEN (SELECT sum(gp) FROM p$r) = 0 THEN CAST(0 AS HUGEINT)
       |         ELSE (p.gp * (SELECT k FROM k) * 1000000)
       |           // (SELECT sum(gp) FROM p$r) END AS g
       |  FROM p$r p)""".stripMargin
  }

  val oracleSql: Map[String, String] = Registry.of(

    "ev_pref_matrix" ->
      s"""WITH $duelCtes
         |SELECT type_a, type_b, wins_a, wins_b, n_ties, n_users
         |FROM duel ORDER BY type_a, type_b""".stripMargin,

    "ev_bradley_terry" ->
      s"""WITH $duelCtes,
         |und AS MATERIALIZED (SELECT * FROM duel WHERE wins_a + wins_b > 0),
         |edges AS MATERIALIZED (
         |  SELECT type_a AS i, type_b AS j, wins_a + wins_b AS n,
         |    wins_a AS w FROM und
         |  UNION ALL
         |  SELECT type_b, type_a, wins_a + wins_b, wins_b FROM und),
         |stats AS MATERIALIZED (
         |  SELECT i AS t, CAST(sum(w) AS HUGEINT) AS wins,
         |    CAST(sum(n) AS BIGINT) AS comps
         |  FROM edges GROUP BY 1),
         |k AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS k FROM stats),
         |g0 AS MATERIALIZED (
         |  SELECT t, CAST(1000000 AS HUGEINT) AS g FROM stats),
         |${(1 to BtIters).map(btRound).mkString(",\n")}
         |SELECT s.t AS event_type, CAST(s.wins AS BIGINT) AS n_wins,
         |  s.comps AS n_comps, CAST(g$BtIters.g AS BIGINT) AS gamma_micro,
         |  CAST(row_number() OVER (ORDER BY g$BtIters.g DESC, s.t) AS BIGINT)
         |    AS rank
         |FROM stats s JOIN g$BtIters ON g$BtIters.t = s.t
         |ORDER BY event_type""".stripMargin
  )
}
