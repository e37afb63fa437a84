package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}
import graft.functions.Log2Micro
import graft.operators.TextOps.tokens

/** Multinomial naive-Bayes language classifier — the generative
  * counterpart to the discriminative quality LR
  * ([[QualityQueries]] ta_quality_lr): train = one counting pass
  * (token counts per (lang, word), Laplace-smoothed), serve = one
  * join-and-sum pass. The workhorse "cheap document router" of data
  * pipelines (langid, domain routing, spam gates) — at 100 TB both
  * passes are plain shuffle aggregates, no iteration, no driver
  * state.
  *
  * Determinism: every log-probability is the fixed-point
  * [[graft.functions.Log2Micro]] (base-2, micro-units, exact
  * integers), so per-doc scores are order-free BIGINT sums —
  * bit-identical on any engine. Laplace smoothing keeps every
  * numerator ≥ 1, so the log is always defined; unseen (word, lang)
  * pairs share one per-lang "unseen" score rather than materializing
  * the V×L dense grid (the model stays |observed vocab per lang| + L
  * rows — the sparse form a 100 TB vocabulary forces anyway).
  *
  * Reference scope: extends the text-analysis family beyond the
  * reference's WordCount (`Worker.cc:123-274`); same corpus tables.
  */
object ClassifyQueries {

  /** (doc_id, lang, word) with multiplicity — whitespace tokens (W1
    * semantics, empties filtered).
    */
  private def docWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("word"))

  /** Model frames: (counts per (lang, word), per-lang totals with
    * smoothing denominator, per-lang priors). `den = N_l + V`:
    * lang-l token mass plus the GLOBAL distinct-word vocabulary.
    */
  private def model(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val dw = docWords(s, dir)
    val counts = dw.groupBy("lang", "word").agg(count(lit(1)).as("c"))
    val v = counts.select("word").distinct()
      .agg(count(lit(1)).as("v"))
    val nl = counts.groupBy("lang")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"))
    val dl = Tables.documents(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val dt = Tables.documents(s, dir).agg(count(lit(1)).as("d"))
    val langs = nl.join(dl, "lang")
      .crossJoin(broadcast(v)).crossJoin(broadcast(dt))
      .withColumn("den", col("n_tokens") + col("v"))
      .withColumn("prior_micro", Log2Micro.log2micro(col("n_docs"), col("d")))
      .withColumn("unseen_micro", Log2Micro.log2micro(lit(1L), col("den")))
    (counts, langs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(

    // k-NN CLASSIFICATION over the labeled embeddings — the
    // non-parametric counterpart to the NB/LR rows and THE standard
    // "are these embeddings any good for this label" probe (a label a
    // 5-NN vote can't recover isn't linearly separable either).
    // Leave-one-out over the trained √n-cell IVF kNN graph
    // ([[Similarity.ivfKnnEdges]], k = 5 — single-probe candidates,
    // the production ANN-classification serving shape): majority vote
    // of the 5 neighbors' labels, ties to the smallest label (argmax
    // = max-count then min-label, the two-HashAggregate trick — never
    // a struct-max). Report = per-label census with accuracy in ppm
    // (DECIMAL-routed: correct-counts are corpus-scale). Vectors in
    // singleton cells have no neighbors and stay out of the census
    // (the vote is undefined, not wrong) — on this corpus the √n
    // cells cover everything. Scale: the edge build is the O(n^1.5)
    // substrate every ss_graph row rides; the vote adds two keyed
    // aggregations and a broadcast-size label join.
    "ss_knn_classify" -> ((s, dir) => {
      val lbl = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val votes = Similarity.ivfKnnEdgesCached(s, dir, 5)
        .join(lbl.select(col("vec_id").as("nbr"), col("label").as("nlbl")),
          "nbr")
        .groupBy("src", "nlbl").agg(count(lit(1)).as("c"))
      val best = votes.groupBy("src").agg(max(col("c")).as("c"))
      val pred = votes.join(best, Seq("src", "c"))
        .groupBy("src", "c").agg(min(col("nlbl")).as("pred"))
      pred.join(lbl.select(col("vec_id").as("src"), col("label")), "src")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc_ppm", expr(
          "CAST((CAST(n_correct AS DECIMAL(38,0)) * 1000000) DIV n AS BIGINT)"))
        .orderBy("label")
    }),

    // NB TRAIN — the per-language model card: document/token mass,
    // observed vocabulary, smoothing denominator, and the fixed-point
    // log₂ prior. One counting pass over the corpus; the output is a
    // languages-sized frame (the model head — the per-word
    // log-likelihood table stays sparse and is exercised by
    // ta_nb_score below).
    "ta_nb_train" -> ((s, dir) => {
      val (_, langs) = model(s, dir)
      langs.select("lang", "n_docs", "n_tokens", "n_distinct", "den",
          "prior_micro", "unseen_micro")
        .orderBy("lang")
    }),

    // NB SCORE — serve the trained model over its own corpus: per
    // document and candidate language, score = prior +
    // Σ_tokens log₂((c+1)/(N_l+V)), argmax with ties to the
    // lexicographically first language. Dataflow: tokens × L
    // candidates (L = language count, a schema constant), LEFT join
    // against the sparse count table on (lang, word) — unseen pairs
    // fall back to the per-lang smoothed score — then two grouped
    // aggregates (per-candidate sum, per-doc argmax via min-struct).
    // Tokenless documents keep their prior-only argmax through the
    // documents×L base frame. The output reports train-set accuracy
    // per doc (pred vs the labeled lang) — the standard sanity gate
    // before a router ships.
    "ta_nb_score" -> ((s, dir) => {
      val (counts, langs) = model(s, dir)
      val cand = langs.select(col("lang").as("cand"), col("den"),
        col("prior_micro"), col("unseen_micro"))
      val tokenScores = docWords(s, dir)
        .crossJoin(broadcast(cand))
        .join(counts
            .select(col("lang").as("cand"), col("word"), col("c")),
          Seq("cand", "word"), "left")
        .withColumn("lp",
          when(col("c").isNotNull,
            Log2Micro.log2micro(col("c") + 1L, col("den")))
            .otherwise(col("unseen_micro")))
        .groupBy("doc_id", "cand")
        .agg(sum(col("lp")).as("lp_sum"))
      val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .crossJoin(broadcast(cand.select("cand", "prior_micro")))
      base.join(tokenScores, Seq("doc_id", "cand"), "left")
        .withColumn("score",
          col("prior_micro") + coalesce(col("lp_sum"), lit(0L)))
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("score")).as("ns"), col("cand").as("cd")))
          .as("m"))
        .select(col("doc_id"), col("lang"),
          col("m.cd").as("pred_lang"), (-col("m.ns")).as("score_micro"),
          (col("m.cd") === col("lang")).as("correct"))
        .orderBy("doc_id")
    }),

    // SNAPSHOT DRIFT, TEXT DISTRIBUTION (Jensen–Shannon divergence) —
    // the unigram-distribution sibling of pipe_drift_psi's numeric
    // PSI: split the corpus into two pseudo-snapshots (even/odd
    // doc_id — the stand-in for consecutive crawls), and per language
    // measure JS divergence between their Laplace-smoothed unigram
    // distributions. JS is the drift metric that is symmetric,
    // bounded (≤ 1 bit), and defined even for disjoint vocabularies —
    // what PSI's unbounded log-ratio is not. Fixed-point contract:
    // with D = N + V the smoothed denominators, each word's
    // p/m = 2(c₁+1)D₂ / ((c₁+1)D₂ + (c₂+1)D₁) is an exact integer
    // rational into log2micro; KL terms are Σ(c+1)·lg weighted sums
    // floored ONCE by D (order-free integer sums in between), and
    // JS = (KLₚ + KL_q) DIV 2. One token pass; everything after runs
    // on the (lang, word) vocab frame.
    "ta_js_drift" -> ((s, dir) => {
      val cw = docWords(s, dir)
        .withColumn("half", (col("doc_id") % 2).cast("int"))
        .groupBy("lang", "word")
        .agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c2"))
      val totals = cw.groupBy("lang")
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
          count(lit(1)).as("v"))
        .withColumn("d1", col("n1") + col("v"))
        .withColumn("d2", col("n2") + col("v"))
      cw.join(broadcast(totals), "lang")
        .withColumn("lgp", Log2Micro.log2micro(
          lit(2L) * (col("c1") + 1L) * col("d2"),
          (col("c1") + 1L) * col("d2") + (col("c2") + 1L) * col("d1")))
        .withColumn("lgq", Log2Micro.log2micro(
          lit(2L) * (col("c2") + 1L) * col("d1"),
          (col("c1") + 1L) * col("d2") + (col("c2") + 1L) * col("d1")))
        .groupBy("lang")
        .agg(
          max(col("v")).as("n_words"),
          max(col("n1")).as("n_a"), max(col("n2")).as("n_b"),
          sum((col("c1") + 1L) * col("lgp")).as("klp_num"),
          sum((col("c2") + 1L) * col("lgq")).as("klq_num"),
          max(col("d1")).as("d1"), max(col("d2")).as("d2"))
        // KL totals are ≥ 0 mathematically but micro-floor noise can
        // dip a hair negative — sign-explicit division keeps Spark's
        // truncation and DuckDB's floor identical either way
        .withColumn("klp", expr(
          "CASE WHEN klp_num >= 0 THEN klp_num DIV d1 " +
            "ELSE -((-klp_num) DIV d1) END"))
        .withColumn("klq", expr(
          "CASE WHEN klq_num >= 0 THEN klq_num DIV d2 " +
            "ELSE -((-klq_num) DIV d2) END"))
        .withColumn("js_micro", expr(
          "CASE WHEN klp + klq >= 0 THEN (klp + klq) DIV 2 " +
            "ELSE -((-(klp + klq)) DIV 2) END"))
        .select("lang", "n_words", "n_a", "n_b", "js_micro")
        .orderBy("lang")
    }),

    // FEATURE HASHING (the "hashing trick", Weinberger et al. 2009) —
    // the fixed-width featurizer that makes unbounded vocabularies
    // trainable: token → bucket h(w) mod D with a second hash bit
    // choosing ±1 (signed sums make collisions cancel in expectation,
    // keeping the hashed dot product unbiased). Both hashes read the
    // engine-shared md5 hex (first byte → bucket, third nibble →
    // sign — the pipe_dsir bucket convention), so the sparse vectors
    // are bit-identical across engines with NO shared dictionary —
    // the property that lets 1000 executors featurize independently
    // with zero coordination, the whole point of the trick at 100 TB.
    // Output: sparse (doc_id, j, val) rows; touched-but-cancelled
    // buckets keep their explicit 0 (they carry collision evidence).
    "ta_feature_hash" -> ((s, dir) =>
      docWords(s, dir)
        .withColumn("j",
          conv(substring(md5(col("word")), 1, 2), 16, 10).cast("long") % FhDim)
        .withColumn("sgn",
          when(conv(substring(md5(col("word")), 3, 1), 16, 10)
            .cast("long") < 8L, 1L).otherwise(-1L))
        .groupBy("doc_id", "j")
        .agg(sum(col("sgn")).as("val"), count(lit(1)).as("n_hits"))
        .orderBy("doc_id", "j"))
  )

  /** Hashed feature dimension (buckets). */
  val FhDim = 64

  /** Shared model CTEs (DuckDB): counts / vocab / per-lang frames plus
    * the fixed-point prior and unseen-word scores. Enclosing statement
    * must start WITH RECURSIVE (log2micro chains).
    */
  private val modelCtes: String = {
    val toks = OracleSql.toks
    s"""dw AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest($toks) AS word FROM documents),
       |counts AS MATERIALIZED (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS c
       |  FROM dw GROUP BY 1, 2),
       |vv AS MATERIALIZED (
       |  SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM counts),
       |nl AS MATERIALIZED (
       |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_distinct
       |  FROM counts GROUP BY 1),
       |dl AS MATERIALIZED (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |dt AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
       |prel AS (
       |  SELECT dl.lang, dl.n_docs AS num, dt.d AS den FROM dl, dt),
       |${OracleSql.log2microCtes("pri", "prel", Seq("lang"))},
       |unrel AS (
       |  SELECT nl.lang, CAST(1 AS BIGINT) AS num,
       |    nl.n_tokens + vv.v AS den
       |  FROM nl, vv),
       |${OracleSql.log2microCtes("uns", "unrel", Seq("lang"))},
       |langs AS MATERIALIZED (
       |  SELECT nl.lang, dl.n_docs, nl.n_tokens, nl.n_distinct,
       |    nl.n_tokens + vv.v AS den,
       |    p.lrm AS prior_micro, u.lrm AS unseen_micro
       |  FROM nl
       |  JOIN dl ON dl.lang = nl.lang
       |  JOIN pri_lg p ON p.lang = nl.lang
       |  JOIN uns_lg u ON u.lang = nl.lang
       |  CROSS JOIN vv)""".stripMargin
  }

  val oracleSql: Map[String, String] = Registry.of(

    // rides the shared trained-√n-cell kNN chain; vote argmax =
    // max-count then min-label, mirrored token for token
    "ss_knn_classify" ->
      s"""WITH RECURSIVE ${Similarity.ivfKnnEdgesCtes(5)},
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |votes AS (
         |  SELECT k.src, l.label AS nlbl, count(*)::BIGINT AS c
         |  FROM knn0 k JOIN lbl l ON l.vec_id = k.nbr
         |  GROUP BY 1, 2),
         |best AS (SELECT src, max(c) AS c FROM votes GROUP BY src),
         |pred AS (
         |  SELECT v.src, min(v.nlbl) AS pred
         |  FROM votes v JOIN best b ON v.src = b.src AND v.c = b.c
         |  GROUP BY v.src),
         |j AS (
         |  SELECT l.label, CASE WHEN p.pred = l.label THEN 1 ELSE 0 END AS ok
         |  FROM pred p JOIN lbl l ON l.vec_id = p.src)
         |SELECT label, count(*)::BIGINT AS n,
         |  CAST(sum(ok) AS BIGINT) AS n_correct,
         |  CAST((CAST(sum(ok) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
         |    AS acc_ppm
         |FROM j GROUP BY label ORDER BY label""".stripMargin,

    "ta_nb_train" ->
      s"""WITH RECURSIVE $modelCtes
         |SELECT lang, n_docs, n_tokens, n_distinct, den, prior_micro,
         |  unseen_micro
         |FROM langs ORDER BY lang""".stripMargin,

    "ta_nb_score" ->
      s"""WITH RECURSIVE $modelCtes,
         |seenrel AS (
         |  SELECT c.lang, c.word, c.c + 1 AS num, l.den
         |  FROM counts c JOIN langs l ON l.lang = c.lang),
         |${OracleSql.log2microCtes("sc", "seenrel", Seq("lang", "word"))},
         |seen AS MATERIALIZED (
         |  SELECT lang AS cand, word, lrm AS lp FROM sc_lg),
         |toksc AS MATERIALIZED (
         |  SELECT dw.doc_id, l.lang AS cand,
         |    CAST(sum(COALESCE(s.lp, l.unseen_micro)) AS BIGINT) AS lp_sum
         |  FROM dw CROSS JOIN langs l
         |  LEFT JOIN seen s ON s.cand = l.lang AND s.word = dw.word
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.doc_id, d.lang, l.lang AS cand,
         |    l.prior_micro + COALESCE(t.lp_sum, 0) AS score
         |  FROM documents d
         |  CROSS JOIN langs l
         |  LEFT JOIN toksc t ON t.doc_id = d.doc_id AND t.cand = l.lang),
         |best AS (
         |  SELECT doc_id, lang, cand, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cand ASC) AS rn
         |  FROM scored)
         |SELECT doc_id, lang, cand AS pred_lang,
         |  CAST(score AS BIGINT) AS score_micro,
         |  cand = lang AS correct
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "ta_js_drift" ->
      s"""WITH RECURSIVE dw AS MATERIALIZED (
         |  SELECT doc_id, lang, unnest(${OracleSql.toks}) AS word
         |  FROM documents),
         |cw AS MATERIALIZED (
         |  SELECT lang, word,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1,
         |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c2
         |  FROM dw GROUP BY 1, 2),
         |tot AS MATERIALIZED (
         |  SELECT lang, CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c2) AS BIGINT) AS n2,
         |    CAST(count(*) AS BIGINT) AS v,
         |    CAST(sum(c1) + count(*) AS BIGINT) AS d1,
         |    CAST(sum(c2) + count(*) AS BIGINT) AS d2
         |  FROM cw GROUP BY 1),
         |prel AS (
         |  SELECT c.lang, c.word, 2 * (c.c1 + 1) * t.d2 AS num,
         |    (c.c1 + 1) * t.d2 + (c.c2 + 1) * t.d1 AS den
         |  FROM cw c JOIN tot t USING (lang)),
         |${OracleSql.log2microCtes("jp", "prel", Seq("lang", "word"))},
         |qrel AS (
         |  SELECT c.lang, c.word, 2 * (c.c2 + 1) * t.d1 AS num,
         |    (c.c1 + 1) * t.d2 + (c.c2 + 1) * t.d1 AS den
         |  FROM cw c JOIN tot t USING (lang)),
         |${OracleSql.log2microCtes("jq", "qrel", Seq("lang", "word"))},
         |terms AS (
         |  SELECT c.lang,
         |    CAST(sum((c.c1 + 1) * p.lrm) AS BIGINT) AS klp_num,
         |    CAST(sum((c.c2 + 1) * q.lrm) AS BIGINT) AS klq_num
         |  FROM cw c
         |  JOIN jp_lg p ON p.lang = c.lang AND p.word = c.word
         |  JOIN jq_lg q ON q.lang = c.lang AND q.word = c.word
         |  GROUP BY 1),
         |fin AS (
         |  SELECT t.lang, t.v AS n_words, t.n1 AS n_a, t.n2 AS n_b,
         |    CASE WHEN x.klp_num >= 0 THEN x.klp_num // t.d1
         |         ELSE -((-x.klp_num) // t.d1) END AS klp,
         |    CASE WHEN x.klq_num >= 0 THEN x.klq_num // t.d2
         |         ELSE -((-x.klq_num) // t.d2) END AS klq
         |  FROM tot t JOIN terms x USING (lang))
         |SELECT lang, n_words, n_a, n_b,
         |  CAST(CASE WHEN klp + klq >= 0 THEN (klp + klq) // 2
         |       ELSE -((-(klp + klq)) // 2) END AS BIGINT) AS js_micro
         |FROM fin ORDER BY lang""".stripMargin,

    // md5 nibbles via the strpos alphabet trick (the dd_simhash /
    // pipe_dsir convention).
    "ta_feature_hash" ->
      s"""WITH dw AS (
         |  SELECT doc_id, unnest(${OracleSql.toks}) AS word FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CAST(((strpos('0123456789abcdef', substring(md5(word), 1, 1)) - 1) * 16
         |       + (strpos('0123456789abcdef', substring(md5(word), 2, 1)) - 1))
         |       % $FhDim AS BIGINT) AS j,
         |    CASE WHEN strpos('0123456789abcdef', substring(md5(word), 3, 1)) - 1 < 8
         |      THEN 1 ELSE -1 END AS sgn
         |  FROM dw)
         |SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS val,
         |  CAST(count(*) AS BIGINT) AS n_hits
         |FROM h GROUP BY 1, 2 ORDER BY doc_id, j""".stripMargin
  )
}
