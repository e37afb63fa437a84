package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}
import graft.functions.Log2Micro
import TextOps._

/** Corpus-quality gating and sampling — the Gopher-style rule stack
  * (Rae et al. 2021 §A1.1: document length, mean word length, stopword
  * presence) and exact stratified sampling. All signals are integers
  * (counts, summed lengths) and every threshold is an integer
  * cross-multiplication, so results are engine-exact by construction —
  * no floating point anywhere in the filter decisions.
  */
object QualityQueries {

  val MinTokens = 12
  val MaxTokens = 1000
  val MinMeanWordLen = 3 // mean token length bounds, as integer
  val MaxMeanWordLen = 8 //   cross-multiplications: lo·n ≤ Σlen ≤ hi·n
  val Stopwords = Seq("a", "the")
  val MinStopwordHits = 2
  val DomainCap = 10 // max docs kept per source (corpus balancing)
  val DsirBuckets = 256 // hashed-ngram feature space (md5 first byte)
  val DsirTopK = 50     // selected-doc report size
  val PpsTicks = 50     // systematic-PPS sample size (tick count)

  /** First `quota` rows of every `group`, ordered by (md5(doc_id),
    * doc_id) — WITHOUT a per-group window. Corpus groups are Zipfian
    * (one language or one crawl domain can be half a 100 TB corpus),
    * so ranking a whole group would push ~50 TB through one task.
    * Two-phase exact allocation instead:
    *   1. per-(group, md5-prefix-bucket) counts — a groups×256-row
    *      aggregate; cumulative counts and the quota are computed over
    *      that bounded frame and broadcast;
    *   2. buckets wholly below the quota boundary are ALL-IN by
    *      membership (no window at all); the single bucket straddling
    *      the boundary is ranked within itself — a group of
    *      ~group/256 rows, the only sort anywhere.
    * The bucket is the first 2 hex chars of the md5, so bucket order
    * is a prefix of the full (md5, doc_id) order and the result is
    * row-identical to the single-window definition the oracles state.
    * `quotaExpr` sees `n_grp` (the group's row count): the stratified
    * sampler passes ⌈n/10⌉, the domain cap passes least(cap, n).
    */
  private def hashOrderedHead(docs: DataFrame, group: String,
                              quotaExpr: String): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), col(group),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bucket", substring(col("h"), 1, 2))
    val wCum = Window.partitionBy(col(group)).orderBy(col("bucket"))
    val wGrp = Window.partitionBy(col(group))
    val stats = keyed.groupBy(group, "bucket").agg(count(lit(1)).as("bcnt"))
      .withColumn("cum_before", coalesce(
        sum(col("bcnt")).over(wCum.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_grp", sum(col("bcnt")).over(wGrp))
      .withColumn("quota", expr(quotaExpr))
      .select(col(group), col("bucket"), col("bcnt"), col("cum_before"),
        col("quota"))
      // both union legs join this groups×256-row frame — materialize
      // it once instead of re-running the counting scan per leg
      .localCheckpoint(false)
    val joined = keyed.join(broadcast(stats), Seq(group, "bucket"))
      .withColumn("take", col("quota") - col("cum_before"))
    val allIn = joined.filter(col("bcnt") <= col("take"))
      .select("doc_id", group)
    val wBucket = Window.partitionBy(col(group), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val boundary = joined
      .filter(col("take") > 0 && col("bcnt") > col("take"))
      .withColumn("rn", row_number().over(wBucket))
      .filter(col("rn") <= col("take"))
      .select("doc_id", group)
    allIn.union(boundary)
  }

  /** Integer-ppm quality LR scoring — the shared serving pass of the
    * `ta_quality_*` / `ta_lr_train_step` family. One narrow corpus
    * scan; every output column is a BIGINT.
    *
    * Features (micro fixed point, ×10⁶):
    *   x1m = log2micro(1 + n_tokens)   — [[Log2Micro]]: deterministic
    *         bit-by-bit log2, no libm on either engine
    *   x2m = mean token length, capped at 64e6 (saturation clamp — a
    *         64-char mean is beyond any text AND bounds the train-step
    *         gradient product inside 2⁵³ exact-double range)
    *   x3m = stopword ratio (≤ 1e6 by construction)
    * Score: z = w·x with exact-rational weights (−6, 4/5, 7/20, 6),
    * clamped to ±20e6 (where the squash is already ≥0.976-saturated —
    * and the clamp keeps the ppm cross-multiplication inside BIGINT),
    * then the softsign squash in ppm with an offset-positive numerator
    * so truncating DIV (Spark) and `//` (DuckDB) agree with floor:
    *   score_ppm = (500000·(D + z)) DIV D,  D = 1e6 + |z|.
    * label ⇔ score_ppm ≥ 500000 ⇔ z ≥ 0 (exact on both engines).
    */
  private def scoredPpm(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("nt"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sumlen"),
        vocabHits(col("toks"), Stopwords).cast("long").as("stop_hits"))
      .withColumn("x1m", Log2Micro.log2micro(lit(1L) + col("nt"), lit(1L)))
      .withColumn("x2m", expr(
        "least(CASE WHEN nt > 0 THEN (1000000L * sumlen) DIV nt ELSE 0L END, 64000000L)"))
      .withColumn("x3m", expr(
        "CASE WHEN nt > 0 THEN (1000000L * stop_hits) DIV nt ELSE 0L END"))
      .withColumn("zm", expr(
        "least(greatest(-6000000L + (4 * x1m) DIV 5 + (7 * x2m) DIV 20 + 6 * x3m, " +
          "-20000000L), 20000000L)"))
      .withColumn("score_ppm", expr(
        "(500000L * (1000000L + abs(zm) + zm)) DIV (1000000L + abs(zm))"))
      .withColumn("label", (col("score_ppm") >= 500000L).cast("long"))
      .withColumn("y_ppm", when(
        col("nt") >= MinTokens && col("nt") <= MaxTokens &&
          col("sumlen") >= lit(MinMeanWordLen.toLong) * col("nt") &&
          col("sumlen") <= lit(MaxMeanWordLen.toLong) * col("nt") &&
          col("stop_hits") >= MinStopwordHits, lit(1000000L)).otherwise(lit(0L)))
  }

  /** DuckDB mirror of [[scoredPpm]] — the shared `WITH RECURSIVE`
    * prefix of the quality-LR oracles. Exposes CTE `sp` with columns
    * (doc_id?, nt, sumlen, stop_hits, x1m, x2m, x3m, zm, score_ppm,
    * y_ppm). Op-for-op the Spark expressions above.
    */
  private def scoredPpmSql: String = {
    s"""WITH RECURSIVE feats AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS nt,
       |    CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS sumlen,
       |    CAST(len(list_filter(t, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS BIGINT) AS stop_hits,
       |    1 + CAST(len(t) AS BIGINT) AS num, CAST(1 AS BIGINT) AS den
       |  FROM (SELECT doc_id, ${OracleSql.toks} AS t FROM documents)),
       |${OracleSql.log2microCtes("x1", "feats", Seq("doc_id"))},
       |sp AS (
       |  SELECT f.*, x.lrm AS x1m,
       |    least(CASE WHEN f.nt > 0 THEN (1000000 * f.sumlen) // f.nt ELSE 0 END,
       |          64000000)::BIGINT AS x2m,
       |    (CASE WHEN f.nt > 0 THEN (1000000 * f.stop_hits) // f.nt ELSE 0 END)::BIGINT AS x3m,
       |    least(greatest(
       |        -6000000 + (4 * x.lrm) // 5
       |        + (7 * least(CASE WHEN f.nt > 0 THEN (1000000 * f.sumlen) // f.nt ELSE 0 END, 64000000)) // 20
       |        + 6 * (CASE WHEN f.nt > 0 THEN (1000000 * f.stop_hits) // f.nt ELSE 0 END),
       |      -20000000), 20000000)::BIGINT AS zm,
       |    CASE WHEN f.nt >= $MinTokens AND f.nt <= $MaxTokens
       |          AND f.sumlen >= $MinMeanWordLen * f.nt
       |          AND f.sumlen <= $MaxMeanWordLen * f.nt
       |          AND f.stop_hits >= $MinStopwordHits
       |      THEN 1000000 ELSE 0 END::BIGINT AS y_ppm
       |  FROM feats f JOIN x1_lg x USING (doc_id)),
       |spp AS (
       |  SELECT *,
       |    ((500000 * (1000000 + abs(zm) + zm)) // (1000000 + abs(zm)))::BIGINT
       |      AS score_ppm
       |  FROM sp)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(

    // Per-language quality report of the three-rule Gopher gate. One
    // narrow pass computes all signals from the token array (no
    // explode, no shuffle before the final per-lang aggregation).
    "pipe_quality_gopher" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("lang"), tokens(col("text")).as("toks"))
        .select(col("lang"),
          size(col("toks")).cast("long").as("nt"),
          // LONG accumulation from the seed: an INT accumulator would
          // overflow on a document whose total token characters exceed
          // 2^31 (DuckDB's list_sum accumulates in HUGEINT).
          aggregate(transform(col("toks"), t => length(t).cast("long")),
            lit(0L), (acc, x) => acc + x).as("sumlen"),
          vocabHits(col("toks"), Stopwords).cast("long").as("stop_hits"))
      val okNtok = col("nt") >= MinTokens && col("nt") <= MaxTokens
      val okWlen = col("sumlen") >= lit(MinMeanWordLen) * col("nt") &&
        col("sumlen") <= lit(MaxMeanWordLen) * col("nt")
      val okStop = col("stop_hits") >= MinStopwordHits
      base.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(okNtok && okWlen && okStop, 1L).otherwise(0L)).as("n_pass"),
          sum(when(!okNtok, 1L).otherwise(0L)).as("fail_ntok"),
          sum(when(!okWlen, 1L).otherwise(0L)).as("fail_wlen"),
          sum(when(!okStop, 1L).otherwise(0L)).as("fail_stop"))
        .orderBy("lang")
    }),

    // Exact stratified sample: ceil(10%) of every language, membership
    // by md5 order — reproducible across runs/engines. Defined as the
    // first ⌈n/10⌉ rows of each stratum ordered by (md5(doc_id),
    // doc_id), computed by the windowless two-phase allocation in
    // [[hashOrderedHead]] — row-identical to the single-window
    // definition the oracle states. The two union legs re-scan the
    // 2-column projection — at scale that is far cheaper than any
    // full-stratum sort.
    "pipe_stratified_sample" -> ((s, dir) =>
      hashOrderedHead(Tables.documents(s, dir), "lang", "(n_grp + 9) DIV 10")
        .orderBy("doc_id")),

    // Weighted sampling, probability ∝ document length (the standard
    // "sample tokens, not documents" correction): systematic PPS —
    // docs laid out on the cumulative-weight line in (md5(doc_id),
    // doc_id) order; a doc is selected iff its weight span crosses one
    // of PpsTicks evenly spaced ticks. Chosen over Efraimidis–Spirakis
    // keys (-ln(u)/w) deliberately: E-S ranks by a transcendental of a
    // hash, and cross-engine libm parity at the top-K boundary is
    // exactly the flakiness this suite bans — the tick rule is pure
    // integer cross-multiplication ((cum·K) DIV W), engine-exact, and
    // the hash order supplies the randomization. Scale: the global
    // cumulative sum is the pipe_stratified_sample two-phase shape —
    // per-md5-prefix-bucket weight subtotals (a 256-row frame; the
    // only unpartitioned window runs over THAT, bounded by
    // construction), then per-doc prefix sums inside each ~n/256-row
    // bucket partition. A doc heavier than W/K gets multiple ticks —
    // n_ticks is its multiplicity (PPS with replacement semantics).
    "pipe_weighted_sample" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("w"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bucket", substring(col("h"), 1, 2))
      val bstats = keyed.groupBy("bucket").agg(sum(col("w")).as("bw"))
        .withColumn("cum_before", coalesce(
          sum(col("bw")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bucket"), col("cum_before"))
      val total = keyed.agg(sum(col("w")).as("tw"))
      val wIn = Window.partitionBy(col("bucket"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      keyed
        .join(broadcast(bstats), Seq("bucket"))
        .withColumn("cum", col("cum_before") + sum(col("w")).over(wIn))
        .crossJoin(broadcast(total))
        .withColumn("t_hi", expr(s"(cum * $PpsTicks) DIV tw"))
        .withColumn("t_lo", expr(s"((cum - w) * $PpsTicks) DIV tw"))
        .filter(col("t_hi") > col("t_lo"))
        .select(col("doc_id"), col("w"), (col("t_hi") - col("t_lo")).as("n_ticks"))
        .orderBy("doc_id")
    }),

    // Corpus balancing: keep at most DomainCap docs per crawl domain
    // (`source`), selected in (md5(doc_id), doc_id) order — the
    // reproducible random-but-deterministic pick. The cap is the
    // standard anti-domination gate before training-mix assembly (one
    // mirror farm must not become 30% of the corpus); same windowless
    // allocation as the sampler, so a domain holding half the corpus
    // costs the same as a uniform one.
    "pipe_domain_cap" -> ((s, dir) =>
      hashOrderedHead(Tables.documents(s, dir), "source",
        s"least(CAST($DomainCap AS BIGINT), n_grp)")
        .orderBy("doc_id")),

    // Model-based quality scoring: a fixed-weight linear classifier
    // over the same integer signals the Gopher gate reads (the serving
    // shape of a trained fastText/LR quality classifier: weights are a
    // broadcast constant, scoring is a narrow scan — no shuffle at
    // all). Round 9 de-transcendentalized the whole contract per the
    // determinism doctrine: the log-length feature is the fixed-point
    // [[Log2Micro]] (a defined deterministic function, no libm), the
    // sigmoid is the softsign squash s = ½(1 + z/(1+|z|)) — the
    // standard fast-sigmoid, here as pure integer cross-multiplication
    // in ppm — and weights are exact rationals (4/5, 7/20). Every
    // column is a BIGINT; the oracle cannot flap on a ulp because no
    // ulp exists anywhere in the pipeline.
    "ta_quality_lr" -> ((s, dir) =>
      scoredPpm(s, dir)
        .select("doc_id", "nt", "score_ppm", "label")
        .orderBy("doc_id")),

    // Reliability diagram for the distilled quality LR — the ML-ops
    // check that closes the ta_quality_lr / ta_lr_train_step loop:
    // per score decile, how often does the TEACHER (the integer
    // Gopher rule gate) agree? A rising pass rate across bins is what
    // "the distilled model ranks quality like its rules" means;
    // miscalibration shows up as a flat or non-monotone column.
    // Round 9: score_ppm is a BIGINT, so the bin is a plain integer
    // division — the round-8 basis-point dance against IEEE decimal
    // boundaries is gone along with the float itself. Pass rates are
    // integer ppm. One narrow scan, ≤11-bin output.
    "ta_quality_calibration" -> ((s, dir) =>
      scoredPpm(s, dir)
        .withColumn("bin", expr("score_ppm DIV 100000"))
        .withColumn("p", (col("y_ppm") === 1000000L).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("n_pass"))
        .withColumn("pass_ppm", expr("(n_pass * 1000000L) DIV n_docs"))
        .orderBy("bin")),

    // COHEN'S KAPPA between the rule gate and the distilled LR — the
    // inter-rater-agreement statistic every labeling pipeline reports
    // (Cohen 1960), here closing the weak-supervision loop with the
    // chance-corrected number the calibration diagram can't give:
    // raw agreement po overstates quality when both gates pass almost
    // everything, and kappa subtracts exactly that marginal-product
    // chance term. Output: the 2×2 confusion matrix (docs + tokens
    // per cell) with po/pe/kappa in ppm attached. All arithmetic is
    // integer: counts, one quadratic pe term in DECIMAL(38)/HUGEINT
    // (n² leaves BIGINT at ~3e9 rows — the ev_assoc_rules treatment),
    // truncating division identical on both engines (negative kappa —
    // worse-than-chance raters — truncates toward zero identically).
    // Scale: one corpus scan into the shared scoredPpm pass, then a
    // 4-row frame; the kappa scalars are a 1-row broadcast attach.
    "ta_quality_kappa" -> ((s, dir) => {
      val cells = scoredPpm(s, dir)
        .select(expr("y_ppm DIV 1000000").as("rule_pass"),
          col("label").as("lr_pass"), col("nt"))
        .groupBy("rule_pass", "lr_pass")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .localCheckpoint(false) // 4-row frame, reused by the scalar pass
      val sc = cells.agg(
          sum(col("n_docs")).as("n"),
          sum(expr("CASE WHEN rule_pass = lr_pass THEN n_docs ELSE 0L END"))
            .as("n_agree"),
          sum(expr("rule_pass * n_docs")).as("ry1"),
          sum(expr("lr_pass * n_docs")).as("rl1"))
        .withColumn("pe_num", expr(
          "CAST(ry1 AS DECIMAL(38,0)) * rl1 + " +
            "CAST(n - ry1 AS DECIMAL(38,0)) * (n - rl1)"))
        .select(
          expr("(n_agree * 1000000L) DIV n").as("po_ppm"),
          expr("CAST((pe_num * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * n) " +
            "AS BIGINT)").as("pe_ppm"),
          expr("CAST(((CAST(n AS DECIMAL(38,0)) * n_agree - pe_num) * 1000000) " +
            "DIV nullif(CAST(n AS DECIMAL(38,0)) * n - pe_num, 0) AS BIGINT)")
            .as("kappa_ppm"))
      cells.crossJoin(broadcast(sc))
        .select(col("rule_pass"), col("lr_pass"), col("n_docs"),
          col("n_tokens"), col("po_ppm"), col("pe_ppm"), col("kappa_ppm"))
        .orderBy("rule_pass", "lr_pass")
    }),

    // One full-batch gradient step of the quality LR — the TRAINING
    // half of ta_quality_lr's serving shape, distilling the integer
    // Gopher rule gate into the model (weak supervision: y = the rule
    // gate's verdict, the standard bootstrap for a learned quality
    // classifier). The step is the canonical distributed-training
    // shape (MLlib GD's treeAggregate): ONE corpus scan, per-doc
    // gradient contributions in exact micro-integers so the
    // cross-partition sum is an order-free long — no float
    // accumulation ever crosses a partition boundary — map-side
    // partial aggregation to a single 7-number row, and a 4-row
    // weight report unpivoted from it with stack (no recompute).
    // Round 9: err and every feature are BIGINT micro-units, so the
    // per-doc gradient err_ppm·x_jm/10⁶ is computed with the
    // exact-double floor trick: the product is ≤ |err|·x2cap =
    // 1e6·6.4e7 = 6.4e13 < 2⁵³, its int64→double cast is exact, the
    // divide by 1e6 is correctly rounded and cannot cross an integer
    // boundary (quotient grid 1e-6 ≫ half-ulp at 6.4e7), so
    // floor(·) IS floorDiv — deterministic on both engines, including
    // negative numerators where truncating DIV would disagree.
    // Headroom: per-doc |g_j| ≤ 6.4e7 → the BIGINT sum holds ~1.4e11
    // docs; beyond that the accumulator widens to DECIMAL(38,0), the
    // documented 100-TB dial. At 100 TB an epoch is exactly this
    // pass; the gradient state never exceeds one row per partition.
    "ta_lr_train_step" -> ((s, dir) =>
      scoredPpm(s, dir)
        .select((col("score_ppm") - col("y_ppm")).as("err"),
          col("x1m"), col("x2m"), col("x3m"),
          col("score_ppm"), col("y_ppm"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("err")).as("g0"),
          sum(expr("CAST(floor(CAST(err * x1m AS DOUBLE) / 1000000.0D) AS BIGINT)")).as("g1"),
          sum(expr("CAST(floor(CAST(err * x2m AS DOUBLE) / 1000000.0D) AS BIGINT)")).as("g2"),
          sum(expr("CAST(floor(CAST(err * x3m AS DOUBLE) / 1000000.0D) AS BIGINT)")).as("g3"),
          sum(when((col("score_ppm") >= 500000L) === (col("y_ppm") === 1000000L), 1L)
            .otherwise(0L)).as("n_correct"))
        .selectExpr(
          """stack(4,
            |  0L, 'bias',       -6000000L, g0,
            |  1L, 'log2_ntok',    800000L, g1,
            |  2L, 'mean_wlen',    350000L, g2,
            |  3L, 'stop_ratio',  6000000L, g3) AS (j, feature, w_micro, grad_micro)
            |""".stripMargin,
          "n_docs", "n_correct")
        // lr = ½ on the mean gradient; numerator sign handled by the
        // same exact-double floor (mean |grad| ≤ 6.4e7·1e6 < 2⁵³ up to
        // ~8e8 docs per step at this clamp)
        .withColumn("w_new_micro", expr(
          "w_micro - CAST(floor(CAST(grad_micro AS DOUBLE) / (2.0D * n_docs)) AS BIGINT)"))
        .select("j", "feature", "w_micro", "grad_micro", "w_new_micro",
          "n_docs", "n_correct")
        .orderBy("j")),

    // Ranking-quality evaluation of the LR scorer against the Gopher
    // rule gate: EXACT ROC-AUC via the grouped Mann–Whitney rank-sum —
    // the standard fidelity number for a distilled quality classifier
    // (does the model ORDER documents like the rules label them?).
    // AUC = Σ_g (2·negs_below(g) + negs_at(g))·pos_at(g) / (2·NP·NN)
    // over score groups g ascending — integer arithmetic end to end;
    // the single division happens on two exact longs at the very end
    // (correctly rounded, then 6dp round of a deterministic double).
    // Scale shape: score_ppm is an integer in [0, 1e6] so the score
    // histogram has AT MOST 1,000,001 rows — the corpus aggregates
    // map-side into that value-bounded frame, and the cumulative
    // window below runs over the bounded histogram (the
    // radix-histogram class), never the corpus. n_correct doubles as
    // threshold-½ accuracy.
    "ta_quality_auc" -> ((s, dir) => {
      val hist = scoredPpm(s, dir)
        .select(col("score_ppm"),
          (col("y_ppm") === 1000000L).cast("long").as("y"))
        .groupBy("score_ppm")
        .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
      val wc = Window.orderBy(col("score_ppm"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("negb", coalesce(sum(col("nn")).over(wc), lit(0L)))
        .agg(
          sum(col("np")).as("n_pos"),
          sum(col("nn")).as("n_neg"),
          sum(col("np") * (col("negb") * 2 + col("nn"))).as("num2"),
          sum(when(col("score_ppm") >= 500000L, col("np")).otherwise(col("nn")))
            .as("n_correct"),
          count(lit(1)).as("n_scores"))
        .select(col("n_pos"), col("n_neg"), col("n_scores"), col("n_correct"),
          round(col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc6"))
    }),

    // PRECISION–RECALL CURVE of the LR scorer against the rule gate —
    // the operating-point picker that complements ta_quality_auc's
    // single ranking number: at each decile threshold, the exact
    // confusion counts and ppm precision/recall/F1 (integer floor
    // division end to end — P·R ≤ 10¹² keeps the F1 cross-product in
    // BIGINT). One corpus aggregate into the value-bounded score
    // histogram (score_ppm ∈ [0, 10⁶] — the radix-histogram class),
    // then a 9-row threshold frame crossed against it; the corpus is
    // scanned once no matter how many operating points are reported.
    "ta_pr_curve" -> ((s, dir) => {
      import s.implicits._
      val hist = scoredPpm(s, dir)
        .groupBy("score_ppm")
        .agg(
          sum(when(col("y_ppm") === 1000000L, 1L).otherwise(0L)).as("np"),
          sum(when(col("y_ppm") === 1000000L, 0L).otherwise(1L)).as("nn"))
      val thr = (1 to 9).map(i => i * 100000L).toDF("threshold_ppm")
      hist.crossJoin(broadcast(thr))
        .groupBy("threshold_ppm")
        .agg(
          sum(when(col("score_ppm") >= col("threshold_ppm"), col("np"))
            .otherwise(0L)).as("tp"),
          sum(when(col("score_ppm") >= col("threshold_ppm"), col("nn"))
            .otherwise(0L)).as("fp"),
          sum(when(col("score_ppm") < col("threshold_ppm"), col("np"))
            .otherwise(0L)).as("fn"),
          sum(when(col("score_ppm") < col("threshold_ppm"), col("nn"))
            .otherwise(0L)).as("tn"))
        .withColumn("precision_ppm", expr(
          "CASE WHEN tp + fp > 0 THEN (tp * 1000000L) DIV (tp + fp) END"))
        .withColumn("recall_ppm", expr(
          "CASE WHEN tp + fn > 0 THEN (tp * 1000000L) DIV (tp + fn) END"))
        .withColumn("f1_ppm", expr(
          "CASE WHEN precision_ppm + recall_ppm > 0 THEN " +
            "(2 * precision_ppm * recall_ppm) DIV (precision_ppm + recall_ppm) END"))
        .orderBy("threshold_ppm")
    }),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): hashed-token
    // bag-of-ngrams models for a target distribution (here the 'en'
    // slice) and the raw corpus, importance weight of a doc =
    // Σ_tokens log2(p_target(b)/p_raw(b)) over the token's hash
    // bucket, Laplace-smoothed. The log-ratio is computed ONCE per
    // bucket on the 256-row model frame as [[Log2Micro]] of the exact
    // integer rational (ct+1)(ns+B) / (cs+1)(nt+B) — round 9 swapped
    // the libm ln for the deterministic fixed-point log2 (DSIR is
    // base-agnostic: ordering and selection are identical, the scale
    // is 1/ln2), so NO transcendental remains anywhere in the
    // contract. The corpus-scale per-doc sum stays an order-free
    // long. Buckets come from the md5 first byte (engine-shared
    // hash). Output: the top-50 selected docs — at 100 TB both count
    // frames aggregate map-side to 256 rows, the model broadcasts, and
    // the selection is TakeOrderedAndProject (production would replace
    // the top-k with a weight-threshold filter or Gumbel resampling;
    // the weight computation — the expensive part — is identical).
    "pipe_dsir_weights" -> ((s, dir) => {
      val tb = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
        .withColumn("b", conv(substring(md5(col("w")), 1, 2), 16, 10).cast("int"))
        .localCheckpoint(false) // three aggregation legs share one explode
      val ct = tb.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
      val cs = tb.groupBy("b").agg(count(lit(1)).as("cs"))
      val tot = tb.agg(
        count(lit(1)).as("ns"),
        count(when(col("lang") === "en", 1)).as("nt"))
      val model = s.range(DsirBuckets).select(col("id").cast("int").as("b"))
        .join(broadcast(ct), Seq("b"), "left")
        .join(broadcast(cs), Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"),
          Log2Micro.log2micro(
            (coalesce(col("ct"), lit(0L)) + lit(1L))
              * (col("ns") + lit(DsirBuckets.toLong)),
            (coalesce(col("cs"), lit(0L)) + lit(1L))
              * (col("nt") + lit(DsirBuckets.toLong))).as("lrm"))
      val w = Window.orderBy(col("logw_micro").desc, col("doc_id").asc)
      tb.join(broadcast(model), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("lrm")).as("logw_micro"))
        .orderBy(col("logw_micro").desc, col("doc_id").asc)
        .limit(DsirTopK)
        .withColumn("rk", row_number().over(w).cast("int"))
        .orderBy("rk")
    })
  )

  val oracleSql: Map[String, String] = Registry.of(
    "pipe_quality_gopher" ->
      s"""WITH base AS (
         |  SELECT lang,
         |    CAST(len(t) AS BIGINT) AS nt,
         |    CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS sumlen,
         |    CAST(len(list_filter(t, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS BIGINT) AS stop_hits
         |  FROM (SELECT lang, ${OracleSql.toks} AS t FROM documents)),
         |flagged AS (
         |  SELECT lang,
         |    (nt >= $MinTokens AND nt <= $MaxTokens) AS ok_ntok,
         |    (sumlen >= $MinMeanWordLen * nt AND sumlen <= $MaxMeanWordLen * nt) AS ok_wlen,
         |    (stop_hits >= $MinStopwordHits) AS ok_stop
         |  FROM base)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ok_ntok AND ok_wlen AND ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN NOT ok_ntok THEN 1 ELSE 0 END) AS BIGINT) AS fail_ntok,
         |  CAST(sum(CASE WHEN NOT ok_wlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wlen,
         |  CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop
         |FROM flagged GROUP BY lang ORDER BY lang""".stripMargin,
    "pipe_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM documents)
        |WHERE rn * 10 <= n_lang + 9
        |ORDER BY doc_id""".stripMargin,
    "pipe_domain_cap" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $DomainCap
         |ORDER BY doc_id""".stripMargin,
    // At oracle scale the two-phase bucket allocation collapses to the
    // single running sum this window states — same order, same ticks.
    // n_ticks MUST cast to BIGINT: DuckDB's sum(BIGINT) widens to
    // HUGEINT, cum/tw arithmetic stays HUGEINT, and the driver's
    // pandas fetch renders HUGEINT as float64 — value-identical rows
    // then hash-mismatch on dtype alone (the round-7 failure mode).
    "pipe_weighted_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, w,
         |    sum(w) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |t AS (SELECT sum(w) AS tw FROM d)
         |SELECT doc_id, w,
         |  CAST((cum * $PpsTicks) // tw - ((cum - w) * $PpsTicks) // tw
         |    AS BIGINT) AS n_ticks
         |FROM c, t
         |WHERE (cum * $PpsTicks) // tw > ((cum - w) * $PpsTicks) // tw
         |ORDER BY doc_id""".stripMargin,
    "ta_quality_lr" ->
      s"""$scoredPpmSql
         |SELECT doc_id, nt, score_ppm,
         |  CAST(CASE WHEN score_ppm >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS label
         |FROM spp ORDER BY doc_id""".stripMargin,
    "ta_quality_kappa" ->
      s"""$scoredPpmSql,
         |cells AS (
         |  SELECT (y_ppm // 1000000)::BIGINT AS rule_pass,
         |    (CASE WHEN score_ppm >= 500000 THEN 1 ELSE 0 END)::BIGINT
         |      AS lr_pass,
         |    count(*)::BIGINT AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
         |  FROM spp GROUP BY 1, 2),
         |sc AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN rule_pass = lr_pass THEN n_docs ELSE 0 END)
         |      AS BIGINT) AS n_agree,
         |    CAST(sum(rule_pass * n_docs) AS BIGINT) AS ry1,
         |    CAST(sum(lr_pass * n_docs) AS BIGINT) AS rl1
         |  FROM cells),
         |k AS (
         |  SELECT n, n_agree,
         |    CAST(ry1 AS HUGEINT) * rl1 + CAST(n - ry1 AS HUGEINT) * (n - rl1)
         |      AS pe_num
         |  FROM sc)
         |SELECT c.rule_pass, c.lr_pass, c.n_docs, c.n_tokens,
         |  (k.n_agree * 1000000) // k.n AS po_ppm,
         |  CAST((k.pe_num * 1000000) // (CAST(k.n AS HUGEINT) * k.n)
         |    AS BIGINT) AS pe_ppm,
         |  CAST(((CAST(k.n AS HUGEINT) * k.n_agree - k.pe_num) * 1000000)
         |    // nullif(CAST(k.n AS HUGEINT) * k.n - k.pe_num, 0)
         |    AS BIGINT) AS kappa_ppm
         |FROM cells c CROSS JOIN k ORDER BY rule_pass, lr_pass""".stripMargin,
    "ta_quality_calibration" ->
      s"""$scoredPpmSql
         |SELECT score_ppm // 100000 AS bin, count(*)::BIGINT AS n_docs,
         |  CAST(sum(CASE WHEN y_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  ((CAST(sum(CASE WHEN y_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*))::BIGINT AS pass_ppm
         |FROM spp GROUP BY bin ORDER BY bin""".stripMargin,
    // Gradient micro-integers: per-doc err_ppm·x_jm // 1e6 via the
    // exact-double floor (product < 2⁵³ by the x2 clamp), so both
    // engines floor the IDENTICAL double — no truncation-sign or ulp
    // exposure anywhere; the g_j sums are order-free longs.
    "ta_lr_train_step" ->
      s"""$scoredPpmSql,
         |g AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(score_ppm - y_ppm) AS BIGINT) AS g0,
         |    CAST(sum(CAST(floor(CAST((score_ppm - y_ppm) * x1m AS DOUBLE) / 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
         |    CAST(sum(CAST(floor(CAST((score_ppm - y_ppm) * x2m AS DOUBLE) / 1000000.0) AS BIGINT)) AS BIGINT) AS g2,
         |    CAST(sum(CAST(floor(CAST((score_ppm - y_ppm) * x3m AS DOUBLE) / 1000000.0) AS BIGINT)) AS BIGINT) AS g3,
         |    CAST(sum(CASE WHEN (score_ppm >= 500000) = (y_ppm = 1000000)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM spp)
         |SELECT j, feature, w_micro, grad_micro,
         |  w_micro - CAST(floor(CAST(grad_micro AS DOUBLE) / (2.0 * n_docs)) AS BIGINT) AS w_new_micro,
         |  CAST(n_docs AS BIGINT) AS n_docs, n_correct
         |FROM (
         |  SELECT CAST(0 AS BIGINT) AS j, 'bias' AS feature, CAST(-6000000 AS BIGINT) AS w_micro, g0 AS grad_micro, n_docs, n_correct FROM g
         |  UNION ALL SELECT 1, 'log2_ntok', 800000, g1, n_docs, n_correct FROM g
         |  UNION ALL SELECT 2, 'mean_wlen', 350000, g2, n_docs, n_correct FROM g
         |  UNION ALL SELECT 3, 'stop_ratio', 6000000, g3, n_docs, n_correct FROM g)
         |ORDER BY j""".stripMargin,
    // Integer end to end: the AUC numerator is exact, and auc6 is the
    // 6dp round of one correctly-rounded division of two exact longs.
    "ta_quality_auc" ->
      s"""$scoredPpmSql,
         |hist AS (
         |  SELECT score_ppm,
         |    CAST(sum(CASE WHEN y_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(sum(CASE WHEN y_ppm = 1000000 THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM spp GROUP BY score_ppm),
         |c AS (
         |  SELECT score_ppm, np, nn,
         |    CAST(COALESCE(sum(nn) OVER (ORDER BY score_ppm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS negb
         |  FROM hist)
         |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
         |  CAST(count(*) AS BIGINT) AS n_scores,
         |  CAST(sum(CASE WHEN score_ppm >= 500000 THEN np ELSE nn END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(np * (negb * 2 + nn)) AS DOUBLE)
         |    / (2.0 * sum(np) * sum(nn)), 6) AS auc6
         |FROM c""".stripMargin,
    // Same score histogram as the AUC oracle; nine operating points
    // in pure integer ppm.
    "ta_pr_curve" ->
      s"""$scoredPpmSql,
         |hist AS (
         |  SELECT score_ppm,
         |    CAST(sum(CASE WHEN y_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(sum(CASE WHEN y_ppm = 1000000 THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM spp GROUP BY score_ppm),
         |thr AS (
         |  SELECT CAST(i * 100000 AS BIGINT) AS threshold_ppm
         |  FROM UNNEST(range(1, 10)) AS u(i)),
         |agg AS (
         |  SELECT t.threshold_ppm,
         |    CAST(sum(CASE WHEN h.score_ppm >= t.threshold_ppm THEN h.np ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN h.score_ppm >= t.threshold_ppm THEN h.nn ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN h.score_ppm < t.threshold_ppm THEN h.np ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN h.score_ppm < t.threshold_ppm THEN h.nn ELSE 0 END) AS BIGINT) AS tn
         |  FROM thr t CROSS JOIN hist h GROUP BY 1),
         |pr AS (
         |  SELECT *,
         |    CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
         |    CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS recall_ppm
         |  FROM agg)
         |SELECT threshold_ppm, tp, fp, fn, tn,
         |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
         |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN precision_ppm + recall_ppm > 0
         |    THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
         |    END AS BIGINT) AS f1_ppm
         |FROM pr ORDER BY threshold_ppm""".stripMargin,
    // The md5-first-byte bucket is two hex nibbles via the strpos
    // alphabet trick (the dd_simhash oracle pattern); the log-ratio is
    // the deterministic fixed-point log2 of an exact integer rational
    // (the log2microCtes recursive chain) on the 256-row model frame —
    // no libm anywhere in the contract.
    "pipe_dsir_weights" ->
      s"""WITH RECURSIVE tb AS (
         |  SELECT doc_id, lang,
         |    CAST((strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 16
         |       + (strpos('0123456789abcdef', substring(md5(w), 2, 1)) - 1) AS INT) AS b
         |  FROM (SELECT doc_id, lang, unnest(${OracleSql.toks}) AS w FROM documents)),
         |ct AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
         |cs AS (SELECT b, count(*) AS cs FROM tb GROUP BY b),
         |tot AS (SELECT count(*) AS ns,
         |               count(CASE WHEN lang = 'en' THEN 1 END) AS nt FROM tb),
         |modelnd AS (
         |  SELECT CAST(r.range AS INT) AS b,
         |    CAST((COALESCE(ct.ct, 0) + 1) * (ns + $DsirBuckets) AS BIGINT) AS num,
         |    CAST((COALESCE(cs.cs, 0) + 1) * (nt + $DsirBuckets) AS BIGINT) AS den
         |  FROM range($DsirBuckets) r
         |  LEFT JOIN ct ON r.range = ct.b
         |  LEFT JOIN cs ON r.range = cs.b, tot),
         |${OracleSql.log2microCtes("dz", "modelnd", Seq("b"))},
         |dw AS (
         |  SELECT doc_id, count(*) AS n_toks, CAST(sum(lrm) AS BIGINT) AS logw_micro
         |  FROM tb JOIN dz_lg USING (b) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks, logw_micro,
         |  CAST(row_number() OVER (ORDER BY logw_micro DESC, doc_id ASC) AS INT) AS rk
         |FROM dw ORDER BY logw_micro DESC, doc_id ASC LIMIT $DsirTopK""".stripMargin
  )
}
