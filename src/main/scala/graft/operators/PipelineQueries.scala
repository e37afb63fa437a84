package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}
import TextOps._

/** Composed pipeline queries — the shapes a real training-data pipeline
  * chains together: per-group top terms, IVF-style centroid assignment
  * (the coarse quantizer of a scaled ANN index), and a full
  * clean-corpus pass (quality gate → exact dedup survivors → per-lang
  * stats).
  */
object PipelineQueries {

  val NumCentroids = 4 // IVF coarse centroids = embeddings of vec_id 0..3
  val PackBudget = 256L // tokens per packed sequence
  val TokenBudget = 5000L // pipe_token_budget: tokens to select

  /** The pipe_pack_sequences body (greedy per-lang packing as a
    * repartition + sorted per-partition scan), shared with the
    * pipe_pack_stats report.
    */
  private def packedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = PackBudget
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "doc_id")
      .as[(Long, String, Long)]
    docs.mapPartitions { it =>
      // per-partition scan; state resets at each lang boundary (all
      // rows of a lang are co-partitioned and contiguous here)
      var curLang: String = null
      var packId = 0L
      var fill = 0L
      it.map { case (id, lang, n) =>
        if (lang != curLang) { curLang = lang; packId = 1L; fill = n }
        else if (fill + n > budget) { packId += 1; fill = n }
        else fill += n
        (id, lang, n, packId)
      }
    }.toDF("doc_id", "lang", "n_tokens", "pack_id")
  }

  /** The SCD2 version-row frame (doc_id, fp, valid_from, valid_to,
    * is_current), shared by pipe_scd2_history (the write-side dump)
    * and pipe_scd2_pit (the read-side reconstruction) so the two
    * cannot drift. Same md5-range snapshots and deliberate edits as
    * pipe_snapshot_diff.
    */
  private def scd2Frame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    val old = docs.filter(h < "f000")
      .select(col("doc_id").as("old_id"), md5(col("text")).as("old_fp"))
    val nw = docs.filter(h >= "1000")
      .select(col("doc_id").as("new_id"),
        md5(when(h < "3000", concat(col("text"), lit(" edited")))
          .otherwise(col("text"))).as("new_fp"))
    val ver = (fp: org.apache.spark.sql.Column, from: Int,
               to: Option[Int]) =>
      struct(fp.as("fp"), lit(from).as("valid_from"),
        to.map(lit(_)).getOrElse(lit(null).cast("int")).as("valid_to"))
    old.join(nw, old("old_id") === nw("new_id"), "full_outer")
      .select(coalesce(col("old_id"), col("new_id")).as("doc_id"),
        explode(
          when(col("old_id").isNull, array(ver(col("new_fp"), 2, None)))
            .when(col("new_id").isNull, array(ver(col("old_fp"), 1, Some(2))))
            .when(col("old_fp") =!= col("new_fp"),
              array(ver(col("old_fp"), 1, Some(2)), ver(col("new_fp"), 2, None)))
            .otherwise(array(ver(col("old_fp"), 1, None)))).as("v"))
      .select(col("doc_id"), col("v.fp").as("fp"),
        col("v.valid_from").as("valid_from"), col("v.valid_to").as("valid_to"),
        col("v.valid_to").isNull.as("is_current"))
  }

  /** PII regexes for pipe_pii_redact — deliberately inside the
    * Java-regex ∩ RE2 common subset (no backrefs, no lookaround) so
    * Spark and DuckDB match identically.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(

    // PII SCAN + REDACTION — the C4/RefinedWeb-style scrubbing pass
    // every public-web training corpus runs before release. The
    // testdata corpus is clean word-salad (zero digits or '@'), so
    // the query first derives a DIRTY corpus deterministically (the
    // mm_* wrap-at-query-time pattern): docs in the first md5-nibble
    // quarter gain a synthetic email, the second quarter a phone
    // number, the rest stay clean — both engines derive the identical
    // text, so the scrub machinery (the actual deliverable) is
    // oracle-pinned end to end with non-trivial counts. Per doc:
    // match counts, the redacted text's md5, and the RESIDUAL match
    // count after redaction — the release gate's invariant, 0 by
    // construction and verified per row by the oracle, not assumed.
    // Scale: a narrow map-only scan (regex count + replace per row),
    // no shuffle until the presentation sort; at 100 TB this is
    // mapInPandas-free codegen'd regexp work.
    "pipe_pii_redact" -> ((s, dir) => {
      val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
      val dirty = when(nib < "4",
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
        .when(nib < "8",
          concat(col("text"), lit(" call 555-"),
            lpad(expr("CAST(doc_id % 10000 AS STRING)"), 4, "0"),
            lit(" today")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          regexp_count(col("dirty"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("dirty"), lit(PhoneRe)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("dirty"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>").as("redacted"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"),
          (regexp_count(col("redacted"), lit(EmailRe)) +
            regexp_count(col("redacted"), lit(PhoneRe)))
            .cast("long").as("residual"))
        .orderBy("doc_id")
    }),

    // TEMPERATURE-SCALED MIXTURE WEIGHTS — the mT5/XLM-R language
    // sampling rule (Xue et al. 2021 §3.1): sample language l with
    // probability ∝ p_l^α (α = 0.3), flattening the head so
    // low-resource languages are up-sampled. p^0.3 needs a real
    // transcendental — and this engine computes it with ZERO libm:
    // p^0.3 = exp2((3·log2micro(n_l, N)) DIV 10) through the
    // deterministic fixed-point pair Log2Micro/Exp2Micro, so the
    // whole contract is BIGINT arithmetic both engines reproduce
    // exactly. Output per language: raw token share (ppm),
    // temperature weight (ppm, normalized over the langs frame), and
    // the up/down-sampling factor in basis points. Scale: one
    // map-side-combined token count; everything after runs on the
    // langs-bounded frame.
    "pipe_mix_temperature" -> ((s, dir) => {
      import graft.functions.{Exp2Micro, Log2Micro}
      val tl = Tables.documents(s, dir)
        .groupBy("lang")
        .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      val tot = tl.agg(sum(col("n_tokens")).as("total"))
      val scored = tl.crossJoin(broadcast(tot))
        // n_tokens is CORPUS-token scale per language — ·10⁶ wraps
        // int64 past ~9.2e12 tokens, real at 100 TB; DECIMAL-route
        // the share (quotient ≤ 10⁶ stays BIGINT)
        .withColumn("p_ppm",
          expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV total"))
        .withColumn("lm", Log2Micro.log2micro(col("n_tokens"), col("total")))
        .withColumn("xm", expr("(3 * lm) DIV 10"))
        .withColumn("e2m", Exp2Micro.exp2micro(col("xm")))
      val z = scored.agg(sum(col("e2m")).as("z"))
      scored.crossJoin(broadcast(z))
        .select(col("lang"), col("n_tokens"), col("p_ppm"),
          expr("(e2m * 1000000) DIV z").as("w_ppm"))
        .withColumn("boost_bp", expr("(w_ppm * 10000) DIV p_ppm"))
        .orderBy("lang")
    }),

    // Top-5 words per language (tokenize → count per (lang, word) →
    // windowed top-k per lang). Shuffles: one agg + one bounded window.
    "ta_top_words_per_lang" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("word"))
        .groupBy("lang", "word")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("word").asc)
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    }),

    // IVF coarse assignment: route each vector to its nearest centroid
    // (here: the first NumCentroids vectors, deterministic) by cosine.
    // At scale this assignment is the partition key of the ANN index;
    // centroids are broadcast.
    "ss_ivf_assign" -> ((s, dir) => {
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val cents = v.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"), col("nrm").as("cnrm"))
      val scored = v.crossJoin(broadcast(cents))
        .withColumn("cos", round(dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 6))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("cent_id").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cent_id")
    }),

    // TF-IDF top terms: tf × (N/df) with the rarity kept as an exact
    // rational (tf·N as integer, one double division) — no logarithm,
    // so no libm divergence between engines. Top-3 terms per doc for a
    // bounded doc set; N arrives as a broadcast 1-row aggregate, df via
    // one shuffle keyed by word.
    "ta_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("word").asc)
      tf.join(df, "word")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("word"), col("tf"), col("tfidf"),
          col("rk").cast("int").as("rk"))
        .orderBy("doc_id", "rk")
    }),

    // Hash-based reproducible sampling — THE corpus-subsampling
    // mechanism at scale: membership depends only on the stable doc
    // key's hash, so the sample is identical across runs, machines and
    // engines, needs no global coordination, and composes with any
    // partitioning (a seeded random() does none of these). ~10% =
    // md5 prefix below 0x199a of the 16-bit hex space.
    "pipe_hash_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < "199a")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Hash-based train/val/test split (90/5/5) by the same mechanism:
    // disjoint hash ranges give leak-proof, reproducible assignment.
    "pipe_split" -> ((s, dir) => {
      val h = substring(md5(col("doc_id").cast("string")), 1, 4)
      Tables.documents(s, dir)
        .withColumn("split",
          when(h < "e666", "train").when(h < "f333", "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }),

    // Sequence packing — the canonical LLM-training-data op: fill
    // fixed-token-budget packs greedily, per language, in doc_id order
    // (docs longer than the budget get their own pack). Packing is
    // inherently sequential per group, so the Spark shape is
    // repartition-by-group + sorted per-partition scan: one shuffle,
    // then a stateful O(n) pass. At 100 TB the group key becomes
    // (lang, shard) — hash-bucketed shards pack independently with the
    // same quality statistics, and pack ids are namespaced by shard;
    // the per-partition scan shape is unchanged.
    "pipe_pack_sequences" -> ((s, dir) =>
      packedDocs(s, dir).orderBy("lang", "doc_id")),

    // Packing observability — the utilization report every packed
    // dataset ships with: per language, pack count, token totals,
    // fill ratio vs the budget, the fattest pack and how many packs
    // are single oversize docs. Two bounded aggregations over the
    // pack assignment (per-pack then per-lang) — the report is
    // langs-rows regardless of corpus size.
    "pipe_pack_stats" -> ((s, dir) => {
      packedDocs(s, dir)
        .groupBy("lang", "pack_id")
        .agg(sum(col("n_tokens")).as("fill"), count(lit(1)).as("nd"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_packs"),
          sum(col("nd")).as("n_docs"),
          sum(col("fill")).as("total_tokens"),
          max(col("fill")).as("max_fill"),
          sum(when(col("fill") > PackBudget, 1L).otherwise(0L)).as("n_oversize"))
        .withColumn("util4",
          round(col("total_tokens").cast("double")
            / (col("n_packs") * lit(PackBudget)), 4))
        .orderBy("lang")
    }),

    // Exact token-budget selection — "give me a reproducible ~N-token
    // subset": docs taken in (md5(doc_id), doc_id) order until the
    // running token total reaches the budget (greedy fill: a doc is in
    // iff the total BEFORE it is under budget, so the last doc may
    // overshoot — the standard sampler contract). The running sum
    // never flows through one task: per-md5-prefix-bucket token totals
    // (a 256-row aggregate) give each bucket's prior via a window over
    // that bounded frame, and the per-doc running sum is a window
    // bounded to ONE uniform bucket (~N/256 rows, no skew by
    // construction — the pipe_domain_cap two-phase argument with
    // weighted sums instead of row counts).
    "pipe_token_budget" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_toks"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bkt", substring(col("h"), 1, 2))
      val wB = Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val priorB = d.groupBy("bkt").agg(sum(col("n_toks")).as("bt"))
        .withColumn("prior_b", coalesce(sum(col("bt")).over(wB), lit(0L)))
        .select("bkt", "prior_b") // 256-row frame; the window is bounded
      val wD = Window.partitionBy(col("bkt"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.join(broadcast(priorB), "bkt")
        .withColumn("prior",
          col("prior_b") + coalesce(sum(col("n_toks")).over(wD), lit(0L)))
        .filter(col("prior") < TokenBudget)
        .select(col("doc_id"), col("n_toks"),
          (col("prior") + col("n_toks")).as("cum_toks"))
        .orderBy("doc_id")
    }),

    // Snapshot diff — the CDC shape for corpus versioning: FULL OUTER
    // join two corpus versions on the stable key, classify every doc
    // as added / removed / changed / unchanged by fingerprint compare,
    // report counts. Versions are derived deterministically from the
    // one table (hash ranges membership + a simulated edit range), so
    // both engines see identical snapshots. One co-partitioned
    // full-outer join on the key — the natural 100 TB shape when both
    // snapshots are bucketed by doc_id at write time.
    "pipe_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val h = substring(md5(col("doc_id").cast("string")), 1, 4)
      val old = docs.filter(h < "f000")
        .select(col("doc_id").as("old_id"), md5(col("text")).as("old_fp"))
      val nw = docs.filter(h >= "1000")
        .select(col("doc_id").as("new_id"),
          md5(when(h < "3000", concat(col("text"), lit(" edited")))
            .otherwise(col("text"))).as("new_fp"))
      old.join(nw, old("old_id") === nw("new_id"), "full_outer")
        .select(
          when(col("old_id").isNull, "added")
            .when(col("new_id").isNull, "removed")
            .when(col("old_fp") =!= col("new_fp"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    }),

    // SCD TYPE-2 history — pipe_snapshot_diff's counts, reshaped into
    // the row-per-version dimension table a lakehouse keeps so
    // point-in-time joins ("which fingerprint was live at version
    // 1?") stay possible after the refresh. Same md5-range snapshots
    // and deliberate edits as the diff query; the FULL OUTER
    // co-partitioned pass CLASSIFIES each doc, then an array explode
    // emits its version rows: unchanged → one open row from v1;
    // changed → the v1 row closed at v2 plus an open v2 row;
    // removed → a closed row; added → an open row. valid_to is NULL
    // on open rows (the SCD2 convention); is_current = valid_to IS
    // NULL. At 100 TB this is one co-partitioned join + narrow
    // explode — the history table appends ≤2 rows per changed key
    // and never rewrites closed history.
    "pipe_scd2_history" -> ((s, dir) =>
      scd2Frame(s, dir).orderBy("doc_id", "valid_from")),

    // POINT-IN-TIME READ over the SCD2 dimension — the read-side
    // contract the history table exists to serve: reconstruct the
    // corpus AS OF each version with the textbook predicate
    // valid_from ≤ t < coalesce(valid_to, ∞), and summarize each
    // reconstruction (live rows, distinct fingerprints, id checksum).
    // This is the half of SCD2 the write-side queries never exercise:
    // if the version rows are miswritten (an open row not closed, a
    // close at the wrong version) the t=1 readback silently includes
    // future state — exactly what the paired-oracle gate catches. The
    // history frame builds once (checkpointed) and both probes are
    // narrow filters over it; at 100 TB a PIT read is a partition-
    // pruned scan of the dimension, never a corpus pass.
    "pipe_scd2_pit" -> ((s, dir) => {
      val hist = scd2Frame(s, dir).localCheckpoint(false)
      def at(t: Int) = hist.filter(col("valid_from") <= t &&
          (col("valid_to").isNull || col("valid_to") > t))
        .agg(count(lit(1)).as("n_live"),
          countDistinct(col("fp")).as("n_fps"),
          sum(col("doc_id")).as("id_sum"))
        .select(lit(t).cast("int").as("ver"), col("n_live"),
          col("n_fps"), col("id_sum"))
      at(1).unionAll(at(2)).orderBy("ver")
    }),

    // Snapshot distribution drift — the monitoring gate a corpus
    // refresh runs BEFORE promoting a new snapshot: Population
    // Stability Index per monitored feature between the reference
    // corpus half and the current half (the standard md5-range
    // membership, so both engines see identical snapshots). Features:
    // the language mix and the doc-length magnitude (decimal digit
    // count of n_chars — an integer bucket rule with zero float
    // exposure). The ORACLE-VERIFIED contract is integer-only: the
    // per-(feature, bucket) ref/cur counts plus the per-feature
    // totals — every number a pure count, engine-exact by
    // construction. The PSI float itself
    // (Σ_b (p_cur - p_ref)·ln(p_cur/p_ref), Laplace-smoothed) is
    // deliberately NOT in the cross-engine contract: ln is a libm
    // transcendental, JVM Math.log and DuckDB's libm may differ by an
    // ulp on identical inputs, and any floor/round at a boundary turns
    // that ulp into an off-by-one — the exact cross-engine-libm
    // flakiness this suite bans (see pipe_weighted_sample's rejection
    // of Efraimidis–Spirakis keys). PSI is derived from these counts
    // in [[driftPsi]] and pinned single-engine by Round9OpsSpec with
    // an epsilon. One corpus scan (the two features explode from one
    // projection), map-side aggregation to the ~10-row bucket frame;
    // at 100 TB the data-sized work is exactly one pass and the PSI
    // arithmetic on the counts frame is free.
    "pipe_drift_psi" -> ((s, dir) =>
      driftCounts(s, dir)
        .select(col("feature"), col("bucket"), col("cr"), col("cc"),
          col("nr"), col("nc"), col("nb"))
        .orderBy("feature", "bucket")),

    // Two-sample Kolmogorov–Smirnov drift — PSI's CONTINUOUS
    // companion for the same promotion gate: PSI needs a bucketing
    // rule (and is blind to drift inside a bucket); KS compares the
    // full empirical CDFs of a numeric feature (doc length) between
    // the reference and current snapshot halves. The statistic is
    // engine-exact WITHOUT any float: D = max_v |F_ref(v) − F_cur(v)|
    // cross-multiplies to d_num = max_v |cumr(v)·nc − cumc(v)·nr|
    // over the distinct feature values v (D = d_num / (nr·nc), a
    // ratio of integers the reader can take; no division enters the
    // verified contract). Scale shape: one corpus scan → per-value
    // ref/cur counts (the frame is VALUE-bounded — distinct doc
    // lengths, capped by the max doc length, never corpus-sized — the
    // pipe_ppl_buckets doctrine for unpartitioned windows), cumulative
    // sums over that bounded frame, and the arg-max row via
    // orderBy.limit(1) = TakeOrderedAndProject (bounded per-partition
    // heaps, no global sort). Ties on d_num break to the smallest
    // value, so the reported location is deterministic.
    "pipe_drift_ks" -> ((s, dir) =>
      ksDrift(
        Tables.documents(s, dir)
          .select(col("n_chars").cast("long").as("v"),
            (substring(md5(col("doc_id").cast("string")), 1, 1) < "8")
              .as("is_ref")),
        col("v"), col("is_ref"))),

    // Materialized-aggregate maintenance — how corpus-level stats stay
    // current at 100 TB without rescanning: the stored BASE aggregate
    // (computed once over the existing snapshot) merges with the new
    // DELTA batch's aggregate by summing partial states — legal
    // because count/sum form commutative monoids (the same algebra
    // Catalyst's partial/final aggregation split exploits), while the
    // non-mergeable mean is DERIVED from merged partials at read time
    // (store sums and counts, never averages). The oracle pins the
    // merged result against the direct full-corpus aggregation — the
    // merge-of-partials-equals-rescan contract itself. Snapshot/delta
    // membership is the standard md5 range so both engines see
    // identical splits.
    "pipe_agg_maintenance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def h = substring(md5(col("doc_id").cast("string")), 1, 1)
      def partial(df: DataFrame): DataFrame = df.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          sum(graft.functions.TokenCount.token_count(col("text"))
            .cast("long")).as("n_tokens"))
      val base = partial(docs.filter(h < "8"))
      val delta = partial(docs.filter(h >= "8"))
      base.unionByName(delta)
        .groupBy("lang")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("sum_chars"),
          sum(col("n_tokens")).as("n_tokens"))
        .withColumn("avg_chars4",
          round(col("sum_chars").cast("double") / col("n_docs"), 4))
        .orderBy("lang")
    }),

    // Incremental maintenance of a JOIN view — pipe_agg_maintenance's
    // harder sibling: when a materialized view joins two tables and
    // BOTH sides receive a delta batch, the refreshed view is the
    // classic three-delta expansion
    //   Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    // summed into the stored partial state — never a full rejoin. The
    // view here is per-nation order stats over orders⋈customer; the
    // md5 splits carve base/delta on BOTH tables so every term is
    // genuinely exercised (new orders from old customers, old orders
    // from newly-registered customers, and new⋈new). The oracle is
    // the direct full⋈full aggregation — equality IS the
    // IVM-equals-recompute contract. At 100 TB: the stored A⋈B
    // partial never recomputes; each delta term is a small-side
    // broadcast against one big table (ΔA⋈B broadcasts ΔA's keys,
    // A⋈ΔB broadcasts ΔB), so refresh cost scales with the delta,
    // not the corpus. Sums go through DECIMAL (order-free).
    "pipe_join_maintenance" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      def hOrd = substring(md5(col("o_orderkey").cast("string")), 1, 1)
      def hCust = substring(md5(col("c_custkey").cast("string")), 1, 1)
      val (oBase, oDelta) = (ord.filter(hOrd < "c"), ord.filter(hOrd >= "c"))
      val (cBase, cDelta) = (cust.filter(hCust < "c"), cust.filter(hCust >= "c"))
      def partial(o: DataFrame, c: DataFrame): DataFrame =
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .as("sum_price_dec"))
      partial(oBase, cBase)                      // the stored view state
        .unionByName(partial(oDelta, cBase))     // ΔA ⋈ B
        .unionByName(partial(oBase, cDelta))     // A ⋈ ΔB
        .unionByName(partial(oDelta, cDelta))    // ΔA ⋈ ΔB
        .groupBy("c_nationkey")
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("sum_price_dec")).as("sum_dec"))
        .select(col("c_nationkey"), col("n_orders"),
          col("sum_dec").cast("double").as("sum_price"))
        .orderBy("c_nationkey")
    }),

    // Exact range-partitioned sharding — the deterministic form of
    // repartitionByRange (which samples its bounds, so its output is
    // not oracle-reproducible): shard boundaries computed EXACTLY from
    // the value histogram of the sort key. groupBy(n_chars) collapses
    // the corpus to a value-bounded frame; the cumulative count runs
    // over THAT frame (the q_exact_quantiles rule: unpartitioned
    // windows see only aggregates, never corpus rows); a value lands
    // in shard 1 + min(R-1, cum_before·R div n) — pure integer math,
    // equivalent to cutting at ceil(s·n/R) row ranks at value
    // granularity. Per-row assignment is then a broadcast join of the
    // tiny value→shard map against the corpus scan. Value-granularity
    // cuts mean a heavy single value never splits (exactly
    // repartitionByRange's contract); the per-shard counts expose any
    // such skew. At 100 TB this is the planning step of every sorted
    // parquet write: one scan for the histogram, one for the write.
    "pipe_range_shards" -> ((s, dir) => {
      val R = 8
      val docs = Tables.documents(s, dir)
      val vals = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // cum window + total share one frame
      val tot = vals.agg(sum(col("cnt")).as("n"))
      val wCum = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
      val vmap = vals
        .withColumn("cb", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("n_chars"),
          (lit(1) + least(lit((R - 1).toLong), expr(s"cb * $R div n")))
            .cast("int").as("shard"))
      docs.join(broadcast(vmap), "n_chars")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          min(col("n_chars")).as("lo_nchars"),
          max(col("n_chars")).as("hi_nchars"))
        .orderBy("shard")
    }),

    // MERGE-style incremental corpus maintenance — the operational
    // shape of keeping a 100 TB corpus current between crawls: given
    // the previous snapshot and the new crawl, produce the next corpus
    // version in ONE co-partitioned FULL OUTER pass — upsert
    // added/changed docs from the crawl, carry unchanged docs forward,
    // drop removed ones (MERGE WHEN [NOT] MATCHED semantics without a
    // second scan of either side). Emits one row per surviving doc
    // with its fingerprint and merge action, so the oracle pins the
    // semantics row-exactly, not just counts. Snapshots derive
    // deterministically from the one table exactly as in
    // pipe_snapshot_diff. At scale both snapshots are bucketed by
    // doc_id at write time, the join is exchange-free, and only
    // partitions containing added/changed/removed keys rewrite files
    // (see SCALE.md).
    "pipe_merge_upsert" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val h = substring(md5(col("doc_id").cast("string")), 1, 4)
      val old = docs.filter(h < "f000")
        .select(col("doc_id").as("old_id"), md5(col("text")).as("old_fp"))
      val nw = docs.filter(h >= "1000")
        .select(col("doc_id").as("new_id"),
          md5(when(h < "3000", concat(col("text"), lit(" edited")))
            .otherwise(col("text"))).as("new_fp"))
      old.join(nw, old("old_id") === nw("new_id"), "full_outer")
        .withColumn("action",
          when(col("old_id").isNull, "insert")
            .when(col("new_id").isNull, "delete")
            .when(col("old_fp") =!= col("new_fp"), "update")
            .otherwise("keep"))
        .filter(col("action") =!= "delete")
        .select(col("new_id").as("doc_id"), col("new_fp").as("fp"), col("action"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination — the training-pipeline gate that
    // keeps eval data out of the corpus: flag every training doc
    // sharing a word 3-gram with the benchmark set (here: doc_id < 10
    // stands in for the benchmark). The benchmark shingle set is tiny
    // relative to the corpus, so at 100 TB it BROADCASTS and the
    // corpus never shuffles — the join below keeps that shape.
    // Contamination rate = overlapping / total distinct shingles,
    // unrounded (small-denominator rational).
    "pipe_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") < 10)
        .select(explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
        .distinct()
      val corpus = docs.filter(col("doc_id") >= 10)
        .select(col("doc_id"), array_distinct(shinglesOf(col("text"))).as("shset"))
        .select(col("doc_id"), size(col("shset")).cast("long").as("n_shingles"),
          explode(col("shset")).as("shingle"))
      corpus.join(broadcast(bench), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(count(lit(1)).as("n_hits"))
        .select(col("doc_id"), col("n_hits"), col("n_shingles"),
          (col("n_hits").cast("double") / col("n_shingles")).as("contamination"))
        .orderBy("doc_id")
    }),

    // Taboo-term scrubbing: mask a target vocabulary everywhere and
    // report per-doc redaction counts plus a fingerprint of the
    // scrubbed text (the PII-removal shape — swap the term list for
    // email/phone patterns; ASCII word-boundary regex behaves
    // identically in Java regex and RE2). Narrow per-row transform, no
    // shuffle before the final sort.
    "pipe_redact" -> ((s, dir) => {
      val pat = "\\b(spark|table)\\b"
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_redacted"),
          md5(regexp_replace(col("text"), pat, "<MASK>")).as("redacted_fp"))
        .orderBy("doc_id")
    }),

    // The WHOLE cleaning pipeline composed end-to-end — the query a
    // training-data team actually ships: quality gate → exact-dedup
    // keep-first → near-dup victim removal (LSH→verify→connected
    // components, full-corpus victims) → benchmark decontamination
    // (drop docs sharing ANY 3-gram with the doc_id<10 benchmark) →
    // per-language survivor counts and token volume. Each stage is the
    // operator already oracle-pinned on its own; this row pins their
    // composition. Shapes at 100 TB: two narrow filters, one md5
    // shuffle, one anti-join vs the (small) victim set, one semi-join
    // vs the broadcast benchmark shingles.
    "pipe_full_clean" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val gated = docs
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .filter(col("n_tokens") >= 12)
        .withColumn("fp", md5(col("text")))
      val exactKept = gated
        .withColumn("keep",
          row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)) === 1)
        .filter(col("keep"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("text"))
      val ndVictims = DedupClusters
        .connectedComponents(
          Dedup.verifiedPairs(s, dir, dedup = false).select("doc_a", "doc_b"))
        .filter(col("id") =!= col("label"))
        .select(col("id").as("nd_victim"))
      val benchShingles = docs.filter(col("doc_id") < 10)
        .select(explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
        .distinct()
      val contaminated = docs.filter(col("doc_id") >= 10)
        .select(col("doc_id").as("ct_victim"),
          explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
        .join(broadcast(benchShingles), "shingle")
        .select(col("ct_victim")).distinct()
      exactKept
        .join(ndVictims, exactKept("doc_id") === ndVictims("nd_victim"), "left_anti")
        .join(contaminated, exactKept("doc_id") === contaminated("ct_victim"),
          "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_total"))
        .orderBy("lang")
    }),

    // Clean-corpus pipeline: quality gate (enough tokens, some
    // stopwords) → exact-dedup survivors (min doc_id per fingerprint)
    // → surviving doc count + token volume per language.
    "pipe_clean_corpus" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .filter(col("n_tokens") >= 12)
        .withColumn("fp", md5(col("text")))
      val survivors = scored
        .withColumn("keep",
          row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)) === 1)
        .filter(col("keep"))
      survivors.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_total"))
        .orderBy("lang")
    }),

    // Training-mix planning (the static data-mixing step): fixed
    // target shares per language against a token budget of half the
    // corpus; per language report available tokens, the integer
    // target, and the sampling rate (>1 ⇒ the mix calls for epoch
    // repetition of that slice). One corpus aggregation to a
    // langs-sized frame; everything after is arithmetic on the
    // broadcast-scale result — the planning output that drives
    // pipe_domain_cap / pipe_stratified_sample style selection.
    "pipe_mix_weights" -> ((s, dir) => {
      val shares = Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)
      val avail = Tables.documents(s, dir)
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("available_tokens"))
      val shareCol = shares.foldLeft(lit(0)) { case (acc, (l, p)) =>
        when(col("lang") === l, lit(p)).otherwise(acc)
      }
      val budget = avail.agg(expr("sum(available_tokens) DIV 2").as("budget"))
      avail.crossJoin(broadcast(budget))
        .withColumn("share", shareCol.cast("long"))
        .withColumn("target_tokens", expr("(share * budget) DIV 100"))
        .withColumn("rate4",
          round(col("target_tokens").cast("double") / col("available_tokens"), 4))
        .select("lang", "available_tokens", "target_tokens", "rate4")
        .orderBy("lang")
    }),

    // Context-window chunking: split each document into 200-char
    // chunks on a 150-char stride (25% overlap, the standard
    // train-window shape; ⌈(len−C)/S⌉+1 chunks, min 1, short tail
    // kept). A narrow explode — rows fan out but never shuffle; chunk
    // identity is (doc_id, chunk_id) and the md5 pins the exact bytes.
    "pipe_chunk_overlap" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("n_chunks",
          (greatest(lit(0), expr("(len - 51) DIV 150")) + 1).cast("int"))
        .withColumn("chunk_id", explode(sequence(lit(0), col("n_chunks") - 1)))
        .withColumn("chunk", expr("substring(text, chunk_id * 150 + 1, 200)"))
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          (col("chunk_id") * 150).cast("int").as("chunk_start"),
          length(col("chunk")).cast("int").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Shard manifest — the integrity artifact written NEXT TO a
    // sharded dataset: per shard (first hex char of the key hash → 16
    // shards; at 100 TB this is the write-partition column), doc and
    // token and byte counts, the key range, and an order-free content
    // checksum (XOR of each doc's rolling-hash fingerprint — XOR
    // commutes, so the checksum is partitioning- and order-invariant,
    // and any single changed/missing doc flips it). Consumers diff
    // manifests instead of re-reading shards; one corpus scan, one
    // 16-group aggregation.
    "pipe_shard_manifest" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("nt"),
          length(col("text")).cast("long").as("nc"),
          graft.functions.RollingHash.rolling_hash(col("text")).as("rfp"))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nc")).as("n_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          expr("bit_xor(rfp)").as("content_fp"))
        .orderBy("shard")
    }),

    // SHARD REBALANCE PLAN — the move list an operator derives from
    // the manifest when hash sharding drifts out of balance (hot
    // shards slow every reader; the fix is moving bytes, not
    // re-sharding the world): per shard the surplus/deficit against
    // the exact byte target ⌈total/K⌉, then a RANK-MATCHED pairing —
    // the i-th most-overloaded shard ships min(surplusᵢ, deficitᵢ)
    // bytes to the i-th most-underloaded — the deterministic
    // one-round approximation of greedy rebalancing that needs no
    // sequential scan (two ranked K-row frames joined on rank; K =
    // shard count, a layout constant). Reports the move list plus
    // each pair's residual imbalance after the move.
    "pipe_rebalance_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val shards = Tables.documents(s, dir)
        .select(
          substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("shard").agg(sum(col("nc")).as("bytes"))
      val tot = shards.agg(sum(col("bytes")).as("total"),
        count(lit(1)).as("k"))
      val bal = shards.crossJoin(broadcast(tot))
        .withColumn("target", expr("(total + k - 1) DIV k"))
        .withColumn("delta", col("bytes") - col("target"))
      val wS = Window.orderBy(col("delta").desc, col("shard").asc)
      val wD = Window.orderBy(col("delta").asc, col("shard").asc)
      val givers = bal.filter(col("delta") > 0)
        .withColumn("rk", row_number().over(wS)) // K-row frame: the
        // unpartitioned windows rank the shard list, never data
        .select(col("rk"), col("shard").as("from_shard"),
          col("delta").as("surplus"))
      val takers = bal.filter(col("delta") < 0)
        .withColumn("rk", row_number().over(wD))
        .select(col("rk"), col("shard").as("to_shard"),
          (-col("delta")).as("deficit"))
      givers.join(takers, Seq("rk"), "full_outer")
        .withColumn("moved_bytes",
          least(coalesce(col("surplus"), lit(0L)),
            coalesce(col("deficit"), lit(0L))))
        .withColumn("residual",
          coalesce(col("surplus"), lit(0L)) +
            coalesce(col("deficit"), lit(0L)) - lit(2) * col("moved_bytes"))
        .select("rk", "from_shard", "to_shard", "surplus", "deficit",
          "moved_bytes", "residual")
        .orderBy("rk")
    }),

    // COMPACTION PLANNING — the lakehouse OPTIMIZE step that turns an
    // accumulation of small files into target-sized outputs without
    // reading a byte of data: the plan runs over the MANIFEST (the
    // pipe_shard_manifest frame — file-count-bounded, ~10⁵ rows for
    // 100 TB of 1 GB files, never corpus-sized), assigning each input
    // file to an output bin by next-fit over the cumulative byte line:
    // bin = bytes_before DIV target. Files are atomic, so a bin holds
    // everything whose START falls inside its target span — bins fill
    // to [target, target + max_file), the standard overflow-tolerant
    // next-fit (a bin is never left short while input remains, and
    // assignment is one window over the bounded frame — no greedy
    // driver loop). Target here derives as ⌈total/4⌉ ("compact 16
    // shards into ~4 outputs"); in production it's the 1 GB constant.
    // Every reported number is an integer (fill in ppm of target);
    // the actual rewrite this plan drives is ONE partitioned write
    // keyed by bin — shuffle volume = data size, exactly once.
    "pipe_compaction_bins" -> ((s, dir) => {
      val files = Tables.documents(s, dir)
        .select(
          substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("shard").agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("bytes"))
      val planned = files
        .withColumn("total", sum(col("bytes")).over(Window.partitionBy()))
        .withColumn("target", expr("(total + 3) DIV 4"))
        .withColumn("before", coalesce(
          sum(col("bytes")).over(Window.orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("bin", expr("before DIV target").cast("int"))
      planned.groupBy("bin")
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("bytes")).as("bytes"),
          min(col("shard")).as("first_shard"),
          max(col("shard")).as("last_shard"),
          expr("(sum(bytes) * 1000000) DIV max(target)").as("fill_ppm"))
        .orderBy("bin")
    }),

    // K-ANONYMITY audit — the privacy gate a corpus release runs after
    // pipe_redact's PII scrubbing: rows sharing a quasi-identifier
    // tuple (here language × source × doc-length magnitude — the
    // attributes an adversary can observe externally) form an
    // equivalence class, and a class of size < k re-identifies its
    // members. The report bands every class by size — unique (1),
    // small (2..k−1), anonymous (≥ k) — with class and row counts per
    // band, so "how many documents are at risk" is one row read.
    // Generalizing the length bucket (digit count, not raw length) is
    // the standard k-anonymity remedy applied up front; a release gate
    // would iterate coarser buckets until the unique band is empty.
    // Pure counts, engine-exact. Scale: one corpus scan into a
    // map-side-combined groupBy whose key space is bounded by the
    // quasi-identifier domain (langs × sources × ~7 magnitudes), then
    // a second aggregation over that bounded frame — free at 100 TB.
    "pipe_k_anonymity" -> ((s, dir) => {
      val k = 5
      val classes = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"),
          length(col("n_chars").cast("string")).as("len_mag"))
        .agg(count(lit(1)).as("cnt"))
      classes
        .withColumn("band",
          when(col("cnt") === 1, "1_unique")
            .when(col("cnt") < k, "2_small")
            .otherwise("3_anonymous"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_classes"),
          sum(col("cnt")).as("n_docs"),
          min(col("cnt")).as("min_class"),
          max(col("cnt")).as("max_class"))
        .orderBy("band")
    }),

    // CLASS-REBALANCE PLAN — the label-imbalance treatment a training
    // set gets before a classifier sees it: per label the count, the
    // corpus share, and the UNDERSAMPLING plan that equalizes classes
    // to the minority count (keep_rate_ppm = min_n·10⁶ DIV n — the
    // per-class acceptance rate a hash-based sampler like
    // pipe_hash_sample then applies, making the whole rebalance
    // reproducible). Pure integer contract; one map-side-combined
    // groupBy over the label column, then arithmetic on the
    // labels-bounded frame with a 1-row broadcast attach.
    "pipe_class_rebalance" -> ((s, dir) => {
      val cls = Tables.embeddings(s, dir)
        .groupBy("label").agg(count(lit(1)).as("n"))
      val mn = cls.agg(min(col("n")).as("min_n"), sum(col("n")).as("total"))
      cls.crossJoin(broadcast(mn))
        .select(col("label"), col("n"),
          expr("(n * 1000000) DIV total").as("share_ppm"),
          expr("(min_n * 1000000) DIV n").as("keep_rate_ppm"),
          col("min_n").as("target_n"))
        .orderBy("label")
    }),

    // DATASET CARD — the per-source summary block every corpus release
    // ships (Datasheets for Datasets, Gebru et al. 2021): doc/token
    // counts, language spread with the modal language (count-desc,
    // lexicographic tie — the deterministic-mode doctrine from
    // q_mode), mean document length, and the within-source exact-
    // duplicate census (docs whose text fingerprint repeats inside
    // the source, in ppm). One checkpointed narrow projection feeds
    // three map-side-combined aggregations; the only window partitions
    // by source over the source×lang model frame. At 100 TB each leg
    // is a straight aggregation of the same scan — the card is free
    // relative to the corpus pass it rides.
    "pipe_dataset_card" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("nt"),
          md5(col("text")).as("fp"))
        .localCheckpoint(false) // narrow frame, three consumers
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("lang").asc)
      val top = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val dup = d.groupBy("source", "fp").agg(count(lit(1)).as("k"))
        .filter(col("k") > 1)
        .groupBy("source").agg(sum(col("k")).as("dup_docs"))
      base.join(top, "source").join(dup, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("n_tokens DIV n_docs").as("mean_tokens"),
          col("n_langs"), col("top_lang"),
          coalesce(col("dup_docs"), lit(0L)).as("dup_docs"))
        .withColumn("dup_ppm", expr("(dup_docs * 1000000) DIV n_docs"))
        .orderBy("source")
    }),

    // L-DIVERSITY + T-CLOSENESS audit — the two refinements the privacy
    // literature stacks on k-anonymity (Machanavajjhala et al. 2007;
    // Li et al. 2007): a class can be large (k-anonymous) yet still
    // leak if every member shares the SENSITIVE attribute (here:
    // source — which crawl/feed a document came from, the attribute a
    // release shouldn't let an adversary infer from observable ones).
    // Per quasi-identifier class (lang × doc-length magnitude —
    // deliberately coarser than pipe_k_anonymity's so classes carry
    // enough rows for distribution tests): member count, distinct
    // sensitive values l, top sensitive share (the recursive-
    // l-diversity signal), and t-closeness as the total-variation
    // distance between the class's sensitive distribution and the
    // corpus-wide one — in ppm with INTEGER floors on each share
    // before the subtraction, so both engines floor identically and
    // the whole contract is BIGINT arithmetic (cnt·10⁶ needs headroom
    // ~9.2e12 rows before DECIMAL; documented, not latent). Classes
    // missing a sensitive value entirely must still pay |0 − p(s)|,
    // hence the class × source cross frame with a 0-filled left join.
    // Scale: one corpus scan into a map-side-combined groupBy whose
    // key space is the QI × sensitive domain (~langs·7·sources rows);
    // the cross frame, joins, and aggregates all run on that bounded
    // model frame — free at 100 TB.
    "pipe_l_diversity" -> ((s, dir) => {
      val pc = Tables.documents(s, dir)
        .groupBy(col("lang"),
          length(col("n_chars").cast("string")).cast("long").as("len_mag"),
          col("source"))
        .agg(count(lit(1)).as("cnt_cs"))
        .localCheckpoint(false) // model frame, reused by 3 consumers
      val cls = pc.groupBy("lang", "len_mag")
        .agg(sum(col("cnt_cs")).as("cnt"),
          count(lit(1)).as("l_distinct"),
          max(col("cnt_cs")).as("top_cnt"))
      val glob = pc.groupBy("source").agg(sum(col("cnt_cs")).as("g_s"))
      val tot = glob.agg(sum(col("g_s")).as("n"))
      val cells = cls.select("lang", "len_mag", "cnt")
        .crossJoin(broadcast(glob.crossJoin(tot)))
        .join(pc.select(col("lang"), col("len_mag"), col("source"),
          col("cnt_cs").as("pcc")), Seq("lang", "len_mag", "source"), "left")
        .withColumn("cls_ppm", expr("(coalesce(pcc, 0L) * 1000000) DIV cnt"))
        .withColumn("glob_ppm", expr("(g_s * 1000000) DIV n"))
      val tv = cells.groupBy("lang", "len_mag")
        .agg(expr("sum(abs(cls_ppm - glob_ppm)) DIV 2").as("tv_ppm"))
      cls.join(tv, Seq("lang", "len_mag"))
        .select(col("lang"), col("len_mag"), col("cnt"), col("l_distinct"),
          expr("(top_cnt * 1000000) DIV cnt").as("top_share_ppm"),
          col("tv_ppm"),
          (col("l_distinct") >= 3).as("diverse"),
          (col("tv_ppm") <= 150000).as("t_close"))
        .orderBy("lang", "len_mag")
    }),

    // DETERMINISTIC EPOCH SHUFFLE — the training-loader ordering
    // primitive: each epoch e orders the corpus by md5(e:doc_id), so
    // every epoch is a different-but-reproducible global permutation
    // (rerun a crashed epoch, get byte-identical batch order) with no
    // RNG state to checkpoint — the salt-the-hash form of seeded
    // shuffling. The verified report is the first 20 positions of
    // epochs 0–2 (distinct across epochs — the shuffle actually
    // shuffles); each leg is a TakeOrderedAndProject bounded heap,
    // NEVER a global sort, and the position window runs inside the
    // 20-row frame. The full-epoch materialization at 100 TB is a
    // repartitionByRange on the same key — the one sort the loader
    // genuinely needs, done once per epoch.
    "pipe_epoch_order" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      def leg(e: Int): DataFrame =
        docs.select(lit(e).as("epoch"), col("doc_id"),
            md5(concat(lit(s"$e:"), col("doc_id").cast("string"))).as("h"))
          .orderBy("h", "doc_id").limit(20)
      val w = Window.partitionBy(col("epoch"))
        .orderBy(col("h"), col("doc_id"))
      leg(0).unionAll(leg(1)).unionAll(leg(2))
        .withColumn("pos", row_number().over(w).cast("int"))
        .select("epoch", "pos", "doc_id")
        .orderBy("epoch", "pos")
    }),

    // CDC LOG REPLAY — the multi-version generalization of
    // pipe_merge_upsert: an ordered change log (inserts, updates,
    // deletes, re-inserts across 3 versions, synthesized here from
    // md5 ranges so both engines see the identical log) collapses to
    // current state by LAST-WRITER-WINS per key, with a terminal
    // delete erasing the row. This is how a lakehouse table follows
    // an upstream OLTP feed (Debezium → merge): replay is idempotent
    // (max version wins no matter how often a batch re-applies) and
    // ORDER-FREE below the per-key max, so log shards apply in any
    // order — the same commutative-monoid argument as the sketches.
    // One co-partitioned window per key (hash-cluster on doc_id, the
    // natural shard key); at 100 TB each incremental batch is instead
    // one delta-sized FULL OUTER merge, same contract.
    "pipe_cdc_replay" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val h = substring(md5(col("doc_id").cast("string")), 1, 4)
      val base = docs.select(col("doc_id"), md5(col("text")).as("fp"),
        lit(1L).as("version"), lit("I").as("op"))
      val upd2 = docs.filter(h < "4000").select(col("doc_id"),
        md5(concat(col("text"), lit(" v2"))).as("fp"),
        lit(2L).as("version"), lit("U").as("op"))
      val del2 = docs.filter(h >= "4000" && h < "5000").select(col("doc_id"),
        lit(null).cast("string").as("fp"),
        lit(2L).as("version"), lit("D").as("op"))
      val upd3 = docs.filter(h < "1000").select(col("doc_id"),
        md5(concat(col("text"), lit(" v3"))).as("fp"),
        lit(3L).as("version"), lit("U").as("op"))
      val re3 = docs.filter(h >= "4000" && h < "4800").select(col("doc_id"),
        md5(concat(col("text"), lit(" v3r"))).as("fp"),
        lit(3L).as("version"), lit("I").as("op"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
      base.unionAll(upd2).unionAll(del2).unionAll(upd3).unionAll(re3)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("doc_id"), col("fp"), col("version"))
        .orderBy("doc_id")
    }),

    // Split-leakage audit — the eval-hygiene check every train/val/test
    // split needs: NEAR-duplicate pairs (the LSH→verify pipeline, same
    // J ≥ 0.5 basis as dd_ngram_jaccard) whose endpoints fall in
    // DIFFERENT splits. Exact-dup leakage is impossible by construction
    // here (hash-range splits key on doc_id, but identical TEXT can
    // still straddle splits — and near-dups always can), so this is the
    // audit that catches what pipe_split's disjoint hash ranges cannot
    // guarantee. One pair pipeline + two broadcast-scale split lookups;
    // report = leaked-pair counts per (split_a, split_b).
    "pipe_split_leakage" -> ((s, dir) => {
      val h = substring(md5(col("doc_id").cast("string")), 1, 4)
      val splits = Tables.documents(s, dir).select(col("doc_id"),
        when(h < "e666", "train").when(h < "f333", "val")
          .otherwise("test").as("split"))
      Dedup.verifiedPairsOf(Tables.documents(s, dir), dedup = true)
        .select("doc_a", "doc_b")
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
          "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
          "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_leaked_pairs"))
        .orderBy("split_a", "split_b")
    }),

    // Z-order layout key — the multi-dimensional data-skipping story
    // (Delta/Iceberg Z-ORDER BY): interleave the bits of (user_id,
    // event-minute) so rows close in BOTH dimensions land close in one
    // sort order; sorted+range-partitioned by z at write time, parquet
    // min/max row-group stats then prune queries that filter on EITHER
    // dimension (a single-column sort only serves its own column).
    // The report groups by the 12-bit z prefix — a quad-tree cell, so
    // each bucket's span is provably ≤ 2¹⁰ in each dimension (the
    // locality the curve buys, asserted in ScaleSpec) — with counts
    // and per-dimension ranges. The z computation is the native
    // [[graft.functions.InterleaveBits]] expression (one codegen'd
    // loop; the equivalent shift/mask Column tree is 96 nodes); the
    // report is one aggregation.
    "pipe_zorder" -> ((s, dir) => {
      val x = col("user_id").bitwiseAND(lit(65535L))
      val y = expr("unix_micros(ts) DIV 60000000").bitwiseAND(lit(65535L))
      val z = graft.functions.InterleaveBits.interleave_bits(x, y)
      Tables.events(s, dir)
        .select(x.as("x"), y.as("y"), z.as("z"))
        .groupBy(shiftright(col("z"), 20).as("z_bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("x")).as("min_user"), max(col("x")).as("max_user"),
          min(col("y")).as("min_min16"), max(col("y")).as("max_min16"))
        .orderBy("z_bucket")
    }),

    // HILBERT-CURVE layout key — pipe_zorder's companion and the
    // second space-filling clustering order (Delta/Iceberg ship both):
    // same 16-bit (user, minute) cell quantization, but the cell
    // index walks the Hilbert curve, whose every prefix is ONE
    // contiguous curve segment in one quad-tree cell — no Z-shape
    // seam jumps between distant cells, so a sorted file covers a
    // compacter region and range scans touch fewer files. The curve's
    // per-level rotation state is a genuine fold (no shift/mask
    // expression tree computes it), hence the native codegen
    // [[graft.functions.HilbertIndex]] expression; the oracle unrolls
    // the identical 16 reflect+transpose rounds as chained CTEs
    // emitted from the same object, so loop and SQL can only drift
    // together. Report mirrors pipe_zorder: the 12-bit prefix is a
    // 2¹⁰×2¹⁰ quad-tree cell (span bound asserted in ScaleSpec
    // alongside the bijection property in Round12OpsSpec); one scan,
    // one aggregation, the key itself whole-stage-codegen'd.
    "pipe_hilbert" -> ((s, dir) => {
      val x = col("user_id").bitwiseAND(lit(65535L))
      val y = expr("unix_micros(ts) DIV 60000000").bitwiseAND(lit(65535L))
      val h = graft.functions.HilbertIndex.hilbert_index(x, y)
      Tables.events(s, dir)
        .select(x.as("x"), y.as("y"), h.as("h"))
        .groupBy(shiftright(col("h"), 20).as("h_bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("x")).as("min_user"), max(col("x")).as("max_user"),
          min(col("y")).as("min_min16"), max(col("y")).as("max_min16"))
        .orderBy("h_bucket")
    }),

    // CURVE SHOOTOUT — the evaluation that justifies choosing between
    // the two layout keys ON THIS WORKLOAD: for each curve, group the
    // same (user, minute) cells by the 12-bit key prefix and measure
    // per-bucket dimension spans (smaller total span = tighter
    // clustering = fewer files touched by a range filter). Both
    // curves share the quad-tree span BOUND (< 2¹⁰, pinned in
    // ScaleSpec); this report measures the realized spans, which the
    // Hilbert curve's seam-free walk typically tightens. Pure integer
    // mins/maxes over the ≤2¹²-bucket frames.
    "pipe_curve_compare" -> ((s, dir) => {
      val x = col("user_id").bitwiseAND(lit(65535L))
      val y = expr("unix_micros(ts) DIV 60000000").bitwiseAND(lit(65535L))
      def leg(name: String, key: org.apache.spark.sql.Column) =
        Tables.events(s, dir)
          .select(x.as("x"), y.as("y"), key.as("k"))
          .groupBy(shiftright(col("k"), 20).as("bucket"))
          .agg((max(col("x")) - min(col("x"))).as("su"),
            (max(col("y")) - min(col("y"))).as("sm"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("su")).as("sum_user_span"),
            max(col("su")).as("max_user_span"),
            sum(col("sm")).as("sum_minute_span"),
            max(col("sm")).as("max_minute_span"))
          .select(lit(name).as("curve"), col("n_buckets"),
            col("sum_user_span"), col("max_user_span"),
            col("sum_minute_span"), col("max_minute_span"))
      leg("hilbert", graft.functions.HilbertIndex.hilbert_index(x, y))
        .unionAll(leg("zorder",
          graft.functions.InterleaveBits.interleave_bits(x, y)))
        .orderBy("curve")
    }),

    // C4/Gopher-style heuristic filter battery (Raffel et al. 2020 §2.2;
    // Rae et al. 2021 A1.1) — the rule sieve every web corpus passes
    // before any model-based scoring. Six deterministic rules, each
    // integer/string-exact: word-count floor+ceiling, mean word length
    // in [3,10] (via 3·n ≤ chars ≤ 10·n, no division), curly-brace and
    // lorem-ipsum markers, and ≥2 distinct stopwords present. Output is
    // the per-language rule-failure profile + survivors — the report a
    // filtering run ships. One scan, every flag computed map-side, one
    // langs-row aggregation: at 100 TB this is a single
    // map-side-combined shuffle, and the flags stay inside
    // whole-stage codegen (no UDF anywhere).
    "pipe_c4_filters" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("text"), tokens(col("text")).as("toks"))
        .withColumn("nt", size(col("toks")).cast("long"))
        .withColumn("chars",
          length(regexp_replace(col("text"), " ", "")).cast("long"))
        .withColumn("n_stop",
          Seq("the", "a", "of", "to", "and")
            .map(w => array_contains(col("toks"), w).cast("long"))
            .reduce(_ + _))
        .withColumn("f_short", (col("nt") < 50).cast("long"))
        .withColumn("f_long", (col("nt") > 10000).cast("long"))
        .withColumn("f_wordlen",
          (col("chars") < lit(3L) * col("nt") ||
            col("chars") > lit(10L) * col("nt")).cast("long"))
        .withColumn("f_brace", col("text").contains("{").cast("long"))
        .withColumn("f_lorem",
          lower(col("text")).contains("lorem ipsum").cast("long"))
        .withColumn("f_stop", (col("n_stop") < 2).cast("long"))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_short")).as("n_short"),
          sum(col("f_long")).as("n_long"),
          sum(col("f_wordlen")).as("n_wordlen"),
          sum(col("f_brace")).as("n_brace"),
          sum(col("f_lorem")).as("n_lorem"),
          sum(col("f_stop")).as("n_stopfail"),
          sum(when(col("f_short") + col("f_long") + col("f_wordlen")
            + col("f_brace") + col("f_lorem") + col("f_stop") === 0L, 1L)
            .otherwise(0L)).as("n_pass"))
        .orderBy("lang")
    }),

    // Length-bucketed batching — the padding-waste planner for training:
    // group docs into power-of-two token-length buckets (the standard
    // bucketed-batching layout) and report, per bucket, the padding
    // waste vs padding every doc to the global max. The pow2 cap is
    // integer-exact via the binary-string length of n−1 (never
    // floor(log2(double)), whose boundary cells differ between
    // engines). Both layouts are one aggregation over the same
    // doc-level frame; at 100 TB the report is ~60 rows (log₂ of the
    // max length × layouts) out of one map-side-combined shuffle.
    "pipe_length_buckets" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(size(tokens(col("text"))).cast("long").as("nt"))
        .withColumn("blen", length(bin(col("nt") - 1)))
        .withColumn("cap",
          when(col("nt") <= 1L, 1L)
            .otherwise(expr("shiftleft(CAST(1 AS BIGINT), blen)")))
        .drop("blen")
      val bucketed = d.groupBy("cap")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
        .withColumn("layout", lit("bucketed"))
      val gcap = d.agg(max(col("cap")).as("gcap"))
      val global = d.crossJoin(broadcast(gcap))
        .groupBy(col("gcap").as("cap"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
        .withColumn("layout", lit("global"))
      bucketed.unionByName(global)
        .withColumn("waste4",
          round(lit(1.0) - col("sum_tokens").cast("double")
            / (col("cap") * col("n_docs")).cast("double"), 4))
        .select("layout", "cap", "n_docs", "sum_tokens", "waste4")
        .orderBy("layout", "cap")
    }),

    // Temperature-based language sampling (the mC4/mT5 α-mix, Xue et
    // al. 2021 §3.1, at α = 0.5): sampling weight ∝ (tokens_L)^α
    // flattens the language distribution so low-resource languages
    // aren't drowned. α = 1/2 keeps every step IEEE-exact across
    // engines: sqrt is correctly rounded (unlike pow(x, 0.3)), and the
    // weight is floored to a micro-integer before the (order-free)
    // integer total. Reported boost = p_sampled/p_natural as a product
    // of two exactly-rounded divisions. One langs-row aggregate off a
    // map-side-combined token count — metadata-sized at any corpus
    // scale.
    "pipe_lang_alpha_weights" -> ((s, dir) => {
      val avail = Tables.documents(s, dir)
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang")
        .agg(sum(col("nt")).as("tokens"), count(lit(1)).as("n_docs"))
        .withColumn("w_micro",
          floor(sqrt(col("tokens").cast("double")) * 1e6).cast("long"))
      val tot = avail.agg(sum(col("w_micro")).as("w_tot"),
        sum(col("tokens")).as("t_tot"))
      avail.crossJoin(broadcast(tot))
        .withColumn("p4",
          round(col("w_micro").cast("double") / col("w_tot").cast("double"), 4))
        .withColumn("boost4",
          round((col("w_micro").cast("double") / col("w_tot").cast("double"))
            * (col("t_tot").cast("double") / col("tokens").cast("double")), 4))
        .select("lang", "tokens", "n_docs", "w_micro", "p4", "boost4")
        .orderBy("lang")
    }),

    // Rendezvous (highest-random-weight) sharding — stable shard
    // assignment under resharding: shard(doc) = argmax over shards of
    // md5(doc_id#shard). Growing 8 → 10 shards moves only docs whose
    // new shard WINS (expected 2/10), vs mod-N hashing which moves
    // ~90% — the report quantifies both, which is exactly the number a
    // 100 TB re-shard plan needs before touching data. Per doc the
    // candidate list is a 10-element in-row array (argmax via
    // array_max on (hash, shard) structs — no explode, no shuffle);
    // the two movement counts are one aggregation. Ties impossible
    // (md5 injective on distinct inputs in practice; tie-break on
    // shard id is still deterministic in both engines).
    "pipe_rendezvous_shards" -> ((s, dir) => {
      val cand = array((0 until 10).map { i =>
        struct(md5(concat(col("doc_id").cast("string"), lit("#" + i))).as("h"),
          lit(i.toLong).as("s"))
      }: _*)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), cand.as("cand"))
        .withColumn("s10", array_max(col("cand")).getField("s"))
        .withColumn("s8",
          array_max(filter(col("cand"), c => c.getField("s") < 8))
            .getField("s"))
        .withColumn("hrw_moved", (col("s10") =!= col("s8")).cast("long"))
        .withColumn("mod_moved",
          (pmod(col("doc_id"), lit(10L)) =!= pmod(col("doc_id"), lit(8L)))
            .cast("long"))
      d.agg(sum(col("hrw_moved")).as("hrw"), sum(col("mod_moved")).as("mod"),
          count(lit(1)).as("n_total"))
        .select(explode(array(
          struct(lit("hrw").as("method"), col("hrw").as("n_moved"),
            col("n_total")),
          struct(lit("mod").as("method"), col("mod").as("n_moved"),
            col("n_total")))).as("r"))
        .select(col("r.method"), col("r.n_moved"), col("r.n_total"))
        .withColumn("moved4",
          round(col("n_moved").cast("double") / col("n_total").cast("double"), 4))
        .orderBy("method")
    })
  )

  /** The 100 TB form of sequence packing: group key re-keyed from
    * `lang` to `(lang, shard)` — hash-bucketed shards pack
    * independently (identical quality statistics, pack ids namespaced
    * by shard), so parallelism scales with the shard count instead of
    * capping at the number of languages. Same one-shuffle +
    * sorted-per-partition-scan shape as the registered query;
    * exercised at amplified scale by [[graft.Stress]].
    */
  def packBySharded(s: SparkSession, dir: String, shards: Int): DataFrame = {
    import s.implicits._
    val budget = PackBudget
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        pmod(crc32(col("doc_id").cast("string")), lit(shards)).cast("int").as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .repartition(col("lang"), col("shard"))
      .sortWithinPartitions("lang", "shard", "doc_id")
      .as[(Long, String, Int, Long)]
    docs.mapPartitions { it =>
      var cur: (String, Int) = null
      var packId = 0L
      var fill = 0L
      it.map { case (id, lang, shard, n) =>
        if ((lang, shard) != cur) { cur = (lang, shard); packId = 1L; fill = n }
        else if (fill + n > budget) { packId += 1; fill = n }
        else fill += n
        (id, lang, shard, n, packId)
      }
    }.toDF("doc_id", "lang", "shard", "n_tokens", "pack_id")
  }

  /** Two-sample Kolmogorov–Smirnov drift over `rows` split by
    * `isRef`: the pure-integer statistic
    * d_num = max_v |cumr(v)·nc − cumc(v)·nr| over the distinct values
    * of `value` (D = d_num/(nr·nc)), arg-max ties to the smallest
    * value. One row: (nr, nc, d_num, at_value). The cumulative window
    * runs over the VALUE-bounded per-value frame; the arg-max rides
    * TakeOrderedAndProject. Public API (aliased on graft.Graft).
    */
  def ksDrift(rows: DataFrame, value: org.apache.spark.sql.Column,
              isRef: org.apache.spark.sql.Column): DataFrame = {
    val base = rows.select(value.as("v"), isRef.as("is_ref"))
    val perValue = base.groupBy("v").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("dr"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("dc"))
    val wCum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = base.agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("nc"))
    perValue
      .withColumn("cumr", sum(col("dr")).over(wCum))
      .withColumn("cumc", sum(col("dc")).over(wCum))
      .crossJoin(broadcast(totals))
      .withColumn("d_num",
        abs(col("cumr") * col("nc") - col("cumc") * col("nr")))
      .orderBy(col("d_num").desc, col("v").asc)
      .limit(1)
      .select(col("nr"), col("nc"), col("d_num"), col("v").as("at_value"))
  }

  /** Per-(feature, bucket) ref/cur counts joined with per-feature
    * totals — the integer-only drift frame `pipe_drift_psi` verifies
    * cross-engine. Columns: feature, bucket, cr, cc (bucket counts),
    * nr, nc (feature totals), nb (bucket count per feature).
    */
  def driftCounts(s: SparkSession, dir: String): DataFrame = {
    val half = when(
      substring(md5(col("doc_id").cast("string")), 1, 1) < "8", "ref")
      .otherwise("cur")
    val counts = Tables.documents(s, dir)
      .select(half.as("half"), explode(array(
        struct(lit("lang").as("feature"), col("lang").as("bucket")),
        struct(lit("len_digits").as("feature"),
          length(col("n_chars").cast("string")).cast("string")
            .as("bucket")))).as("fb"))
      .select(col("half"), col("fb.feature"), col("fb.bucket"))
      .groupBy("feature", "bucket")
      .agg(
        sum(when(col("half") === "ref", 1L).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", 1L).otherwise(0L)).as("cc"))
    val totals = counts.groupBy("feature")
      .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"),
        count(lit(1)).as("nb"))
    counts.join(broadcast(totals), "feature")
  }

  /** Laplace-smoothed PSI per feature, derived from [[driftCounts]].
    * Float (ln) on the ~10-row counts frame only — single-engine
    * semantics, pinned by Round9OpsSpec with an epsilon; NOT part of
    * the cross-engine oracle contract (libm ulp at a floor boundary
    * is not engine-exact).
    */
  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val pc = (col("cc") + lit(1L)).cast("double") / (col("nc") + col("nb"))
    val pr = (col("cr") + lit(1L)).cast("double") / (col("nr") + col("nb"))
    driftCounts(s, dir)
      .select(col("feature"), col("nr"), col("nc"), col("nb"),
        ((pc - pr) * log(pc / pr)).as("term"))
      .groupBy("feature")
      .agg(first(col("nr")).as("n_ref"), first(col("nc")).as("n_cur"),
        first(col("nb")).as("n_buckets"), sum(col("term")).as("psi"))
      .orderBy("feature")
  }

  private val toksSql = OracleSql.toks

  /** DuckDB mirror of [[scd2Frame]]: CTE chain ending in
    * `rows_(doc_id, fp, valid_from, valid_to)` — the shared prefix of
    * the two SCD2 oracles.
    */
  private val scd2Sql: String =
    """WITH old AS (
      |  SELECT doc_id AS old_id, md5(text) AS old_fp FROM documents
      |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f000'),
      |nw AS (
      |  SELECT doc_id AS new_id,
      |    md5(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3000'
      |             THEN text || ' edited' ELSE text END) AS new_fp
      |  FROM documents
      |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '1000'),
      |j AS (SELECT * FROM old FULL OUTER JOIN nw ON old_id = new_id),
      |rows_ AS (
      |  SELECT COALESCE(old_id, new_id) AS doc_id, v.fp AS fp,
      |    v.valid_from AS valid_from, v.valid_to AS valid_to
      |  FROM (
      |    SELECT old_id, new_id, unnest(
      |      CASE WHEN old_id IS NULL
      |             THEN [{'fp': new_fp, 'valid_from': 2, 'valid_to': NULL}]
      |           WHEN new_id IS NULL
      |             THEN [{'fp': old_fp, 'valid_from': 1, 'valid_to': 2}]
      |           WHEN old_fp <> new_fp
      |             THEN [{'fp': old_fp, 'valid_from': 1, 'valid_to': 2},
      |                   {'fp': new_fp, 'valid_from': 2, 'valid_to': NULL}]
      |           ELSE [{'fp': old_fp, 'valid_from': 1, 'valid_to': NULL}]
      |      END) AS v
      |    FROM j))""".stripMargin

  val oracleSql: Map[String, String] = Registry.of(
    "pipe_mix_temperature" ->
      s"""WITH RECURSIVE tl AS (
         |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM tl),
         |base AS (
         |  SELECT lang, n_tokens, total,
         |    CAST(CAST(n_tokens AS HUGEINT) * 1000000 // total
         |      AS BIGINT) AS p_ppm,
         |    n_tokens AS num, total AS den
         |  FROM tl, tot),
         |${OracleSql.log2microCtes("tg", "base", Seq("lang"))},
         |xs AS (
         |  SELECT base.lang, n_tokens, p_ppm,
         |    CAST((3 * lrm) // 10 AS BIGINT) AS xm
         |  FROM base JOIN tg_lg USING (lang)),
         |${OracleSql.exp2microCtes("tx", "xs", Seq("lang"))},
         |w AS (
         |  SELECT xs.lang, n_tokens, p_ppm, e2m
         |  FROM xs JOIN tx_ex USING (lang)),
         |z AS (SELECT CAST(sum(e2m) AS BIGINT) AS z FROM w)
         |SELECT lang, n_tokens, p_ppm,
         |  CAST((e2m * 1000000) // z AS BIGINT) AS w_ppm,
         |  CAST((((e2m * 1000000) // z) * 10000) // p_ppm AS BIGINT) AS boost_bp
         |FROM w, z ORDER BY lang""".stripMargin,
    "pipe_pii_redact" -> {
      // RE2 mirrors of the Java regexes (identical by common-subset
      // construction); DuckDB needs the explicit 'g' flag Spark's
      // regexp_replace applies by default
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |    CASE
         |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
         |        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |          || '@example.com now'
         |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
         |        THEN text || ' call 555-'
         |          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
         |      ELSE text END AS dirty
         |  FROM documents),
         |red AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(dirty, '$EmailRe'))::BIGINT AS n_emails,
         |    len(regexp_extract_all(dirty, '$PhoneRe'))::BIGINT AS n_phones,
         |    regexp_replace(regexp_replace(dirty, '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g') AS redacted
         |  FROM dirty)
         |SELECT doc_id, n_emails, n_phones, md5(redacted) AS redacted_md5,
         |  (len(regexp_extract_all(redacted, '$EmailRe'))
         |   + len(regexp_extract_all(redacted, '$PhoneRe')))::BIGINT AS residual
         |FROM red ORDER BY doc_id""".stripMargin
    },
    "pipe_mix_weights" ->
      s"""WITH avail AS (
         |  SELECT lang,
         |    CAST(sum(len(${OracleSql.toks})) AS BIGINT) AS available_tokens
         |  FROM documents GROUP BY lang),
         |b AS (SELECT CAST(sum(available_tokens) // 2 AS BIGINT) AS budget FROM avail)
         |SELECT lang, available_tokens,
         |  CAST((CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15 WHEN 'es' THEN 15
         |        WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 ELSE 0 END) * budget // 100
         |    AS BIGINT) AS target_tokens,
         |  round(CAST((CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15 WHEN 'es' THEN 15
         |        WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 ELSE 0 END) * budget // 100
         |      AS DOUBLE) / available_tokens, 4) AS rate4
         |FROM avail, b ORDER BY lang""".stripMargin,
    "pipe_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(greatest(0, (length(text) - 51) // 150) + 1 AS INT) AS n_chunks
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |  CAST(i * 150 AS INT) AS chunk_start,
        |  CAST(length(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS INT) AS chunk_len,
        |  md5(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_md5
        |FROM d, UNNEST(range(0, n_chunks)) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "ta_top_words_per_lang" ->
      s"""SELECT lang, word, cnt, CAST(rk AS INT) AS rk FROM (
         |  SELECT lang, word, cnt,
         |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word ASC) AS rk
         |  FROM (SELECT lang, w AS word, count(*) AS cnt
         |        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         |        WHERE w <> '' GROUP BY lang, w))
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "ss_ivf_assign" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm
         |          FROM v WHERE vec_id < $NumCentroids),
         |assigned AS (
         |  SELECT v.vec_id, cent_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY round(list_dot_product(e, ce) / (nrm * cnrm), 6) DESC,
         |               cent_id ASC) AS rk
         |  FROM v CROSS JOIN cents)
         |SELECT cent_id, count(*) AS n_vectors
         |FROM assigned WHERE rk = 1
         |GROUP BY cent_id ORDER BY cent_id""".stripMargin,
    "ta_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, w AS word, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents WHERE doc_id < 50)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |dfreq AS (
         |  SELECT word, count(*) AS df FROM (
         |    SELECT DISTINCT doc_id, w AS word
         |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |    WHERE w <> '')
         |  GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, word, tf,
         |    CAST(tf * n_docs AS DOUBLE) / df AS tfidf
         |  FROM tf JOIN dfreq USING (word) CROSS JOIN n)
         |SELECT doc_id, word, tf, tfidf, CAST(rk AS INT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, word ASC) AS rk
         |  FROM scored)
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // The HUGEINT fold replays graft.functions.RollingHash's 64-bit
    // wraparound polynomial (same mirror as ta_rolling_fp's oracle).
    "pipe_shard_manifest" ->
      s"""WITH fp AS (
         |  SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         |    doc_id, CAST(len($toksSql) AS BIGINT) AS nt,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    CAST(CASE WHEN h >= 9223372036854775808
         |              THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS rfp
         |  FROM (
         |    SELECT doc_id, text,
         |      list_reduce(
         |        list_prepend(CAST(0 AS HUGEINT),
         |          list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
         |        (a, c) -> (a * 31 + c) % 18446744073709551616) AS h
         |    FROM documents))
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  bit_xor(rfp) AS content_fp
         |FROM fp GROUP BY shard ORDER BY shard""".stripMargin,
    "pipe_rebalance_plan" ->
      """WITH shards AS (
        |  SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |    CAST(sum(length(text)) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(bytes) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS k FROM shards),
        |bal AS (
        |  SELECT s.shard, s.bytes,
        |    s.bytes - (t.total + t.k - 1) // t.k AS delta
        |  FROM shards s CROSS JOIN tot t),
        |givers AS (
        |  SELECT CAST(row_number() OVER (ORDER BY delta DESC, shard ASC)
        |      AS BIGINT) AS rk,
        |    shard AS from_shard, delta AS surplus
        |  FROM bal WHERE delta > 0),
        |takers AS (
        |  SELECT CAST(row_number() OVER (ORDER BY delta ASC, shard ASC)
        |      AS BIGINT) AS rk,
        |    shard AS to_shard, -delta AS deficit
        |  FROM bal WHERE delta < 0)
        |SELECT COALESCE(g.rk, t.rk) AS rk, g.from_shard, t.to_shard,
        |  g.surplus, t.deficit,
        |  least(COALESCE(g.surplus, 0), COALESCE(t.deficit, 0))
        |    AS moved_bytes,
        |  COALESCE(g.surplus, 0) + COALESCE(t.deficit, 0)
        |    - 2 * least(COALESCE(g.surplus, 0), COALESCE(t.deficit, 0))
        |    AS residual
        |FROM givers g FULL OUTER JOIN takers t ON t.rk = g.rk
        |ORDER BY rk""".stripMargin,

    "pipe_split_leakage" ->
      s"""WITH vp AS (SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSqlFrom("documents")})),
         |sp AS (SELECT doc_id,
         |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
         |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents)
         |SELECT a.split AS split_a, b.split AS split_b,
         |  count(*) AS n_leaked_pairs
         |FROM vp
         |JOIN sp a ON vp.doc_a = a.doc_id
         |JOIN sp b ON vp.doc_b = b.doc_id
         |WHERE a.split <> b.split
         |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,
    // Next-fit over the cumulative byte line; all casts BIGINT
    // (HUGEINT-dtype doctrine). length(text) = n_chars is the byte
    // stand-in on the ASCII-ish synthetic corpus.
    "pipe_compaction_bins" ->
      """WITH files AS (
        |  SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |    count(*)::BIGINT AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |planned AS (
        |  SELECT shard, n_docs, bytes,
        |    CAST((sum(bytes) OVER () + 3) // 4 AS BIGINT) AS target,
        |    CAST(COALESCE(sum(bytes) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS before
        |  FROM files)
        |SELECT CAST(before // target AS INT) AS bin,
        |  count(*)::BIGINT AS n_files,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(shard) AS first_shard, max(shard) AS last_shard,
        |  CAST((sum(bytes) * 1000000) // max(target) AS BIGINT) AS fill_ppm
        |FROM planned GROUP BY 1 ORDER BY bin""".stripMargin,
    "pipe_k_anonymity" ->
      """WITH classes AS (
        |  SELECT lang, source,
        |    length(CAST(n_chars AS VARCHAR)) AS len_mag,
        |    count(*)::BIGINT AS cnt
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CASE WHEN cnt = 1 THEN '1_unique'
        |            WHEN cnt < 5 THEN '2_small'
        |            ELSE '3_anonymous' END AS band,
        |  count(*)::BIGINT AS n_classes,
        |  CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  CAST(min(cnt) AS BIGINT) AS min_class,
        |  CAST(max(cnt) AS BIGINT) AS max_class
        |FROM classes GROUP BY 1 ORDER BY band""".stripMargin,
    "pipe_class_rebalance" ->
      """WITH cls AS (
        |  SELECT label, count(*)::BIGINT AS n FROM embeddings GROUP BY 1),
        |mn AS (SELECT CAST(min(n) AS BIGINT) AS min_n,
        |              CAST(sum(n) AS BIGINT) AS total FROM cls)
        |SELECT label, n, (n * 1000000) // total AS share_ppm,
        |  (min_n * 1000000) // n AS keep_rate_ppm, min_n AS target_n
        |FROM cls, mn ORDER BY label""".stripMargin,
    "pipe_dataset_card" ->
      s"""WITH d AS (
         |  SELECT source, lang, doc_id,
         |    CAST(len(${OracleSql.toks}) AS BIGINT) AS nt,
         |    md5(text) AS fp
         |  FROM documents),
         |base AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |  FROM d GROUP BY 1),
         |top AS (
         |  SELECT source, lang AS top_lang FROM (
         |    SELECT source, lang, row_number() OVER (
         |      PARTITION BY source
         |      ORDER BY count(*) DESC, lang ASC) AS rn
         |    FROM d GROUP BY source, lang)
         |  WHERE rn = 1),
         |dup AS (
         |  SELECT source, CAST(sum(k) AS BIGINT) AS dup_docs FROM (
         |    SELECT source, fp, count(*)::BIGINT AS k
         |    FROM d GROUP BY 1, 2)
         |  WHERE k > 1 GROUP BY 1)
         |SELECT b.source, b.n_docs, b.n_tokens,
         |  b.n_tokens // b.n_docs AS mean_tokens,
         |  b.n_langs, t.top_lang,
         |  COALESCE(u.dup_docs, 0)::BIGINT AS dup_docs,
         |  (COALESCE(u.dup_docs, 0) * 1000000) // b.n_docs AS dup_ppm
         |FROM base b JOIN top t USING (source)
         |LEFT JOIN dup u USING (source)
         |ORDER BY b.source""".stripMargin,
    "pipe_l_diversity" ->
      """WITH pc AS (
        |  SELECT lang,
        |    CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT) AS len_mag,
        |    source, count(*)::BIGINT AS cnt_cs
        |  FROM documents GROUP BY 1, 2, 3),
        |cls AS (
        |  SELECT lang, len_mag, CAST(sum(cnt_cs) AS BIGINT) AS cnt,
        |    count(*)::BIGINT AS l_distinct,
        |    CAST(max(cnt_cs) AS BIGINT) AS top_cnt
        |  FROM pc GROUP BY 1, 2),
        |gl AS (
        |  SELECT source, CAST(sum(cnt_cs) AS BIGINT) AS g_s
        |  FROM pc GROUP BY 1),
        |tot AS (SELECT CAST(sum(g_s) AS BIGINT) AS n FROM gl),
        |cells AS (
        |  SELECT c.lang, c.len_mag,
        |    (coalesce(p.cnt_cs, 0) * 1000000) // c.cnt AS cls_ppm,
        |    (g.g_s * 1000000) // t.n AS glob_ppm
        |  FROM cls c CROSS JOIN gl g CROSS JOIN tot t
        |  LEFT JOIN pc p ON p.lang = c.lang AND p.len_mag = c.len_mag
        |    AND p.source = g.source),
        |tv AS (
        |  SELECT lang, len_mag,
        |    CAST(sum(abs(cls_ppm - glob_ppm)) // 2 AS BIGINT) AS tv_ppm
        |  FROM cells GROUP BY 1, 2)
        |SELECT c.lang, c.len_mag, c.cnt, c.l_distinct,
        |  (c.top_cnt * 1000000) // c.cnt AS top_share_ppm,
        |  tv.tv_ppm,
        |  c.l_distinct >= 3 AS diverse,
        |  tv.tv_ppm <= 150000 AS t_close
        |FROM cls c JOIN tv USING (lang, len_mag)
        |ORDER BY lang, len_mag""".stripMargin,
    "pipe_zorder" -> {
      // OR operator at line END — a leading "| " would be stripped as
      // margin by stripMargin
      val zSql = (0 until 16).map(i =>
        s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" |\n      ")
      s"""WITH b AS (
         |  SELECT user_id & 65535 AS x,
         |    (epoch_us(ts) // 60000000) & 65535 AS y
         |  FROM events),
         |zv AS (SELECT x, y,
         |    $zSql AS z
         |  FROM b)
         |SELECT z >> 20 AS z_bucket, count(*) AS n_events,
         |  min(x) AS min_user, max(x) AS max_user,
         |  min(y) AS min_min16, max(y) AS max_min16
         |FROM zv GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },
    // Both curve chains over ONE events CTE; spans off the carried
    // original coordinates.
    "pipe_curve_compare" -> {
      val zSql = (0 until 16).map(i =>
        s"((((x0 >> $i) & 1) << ${2 * i}) | (((y0 >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" |\n      ")
      s"""WITH h0 AS (
         |  SELECT user_id & 65535 AS x0,
         |    (epoch_us(ts) // 60000000) & 65535 AS y0,
         |    user_id & 65535 AS x,
         |    (epoch_us(ts) // 60000000) & 65535 AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM events),
         |${graft.functions.HilbertIndex.unrolledSql("x0, y0")},
         |hb AS (
         |  SELECT d >> 20 AS bucket,
         |    max(x0) - min(x0) AS su, max(y0) - min(y0) AS sm
         |  FROM h16 GROUP BY 1),
         |zb AS (
         |  SELECT z >> 20 AS bucket,
         |    max(x0) - min(x0) AS su, max(y0) - min(y0) AS sm
         |  FROM (SELECT x0, y0,
         |      $zSql AS z
         |    FROM h0) GROUP BY 1),
         |hl AS (SELECT 'hilbert' AS curve, count(*)::BIGINT AS n_buckets,
         |         CAST(sum(su) AS BIGINT) AS sum_user_span,
         |         CAST(max(su) AS BIGINT) AS max_user_span,
         |         CAST(sum(sm) AS BIGINT) AS sum_minute_span,
         |         CAST(max(sm) AS BIGINT) AS max_minute_span
         |       FROM hb),
         |zl AS (SELECT 'zorder', count(*)::BIGINT,
         |         CAST(sum(su) AS BIGINT), CAST(max(su) AS BIGINT),
         |         CAST(sum(sm) AS BIGINT), CAST(max(sm) AS BIGINT)
         |       FROM zb)
         |SELECT * FROM hl UNION ALL SELECT * FROM zl
         |ORDER BY curve""".stripMargin
    },
    // The 16 unrolled Hilbert rounds come from HilbertIndex.unrolledSql
    // — the same object the codegen loop lives in. d accumulates past
    // 2³¹, so it starts as BIGINT.
    "pipe_hilbert" ->
      s"""WITH h0 AS (
         |  SELECT user_id & 65535 AS x0,
         |    (epoch_us(ts) // 60000000) & 65535 AS y0,
         |    user_id & 65535 AS x,
         |    (epoch_us(ts) // 60000000) & 65535 AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM events),
         |${graft.functions.HilbertIndex.unrolledSql("x0, y0")}
         |SELECT d >> 20 AS h_bucket, count(*) AS n_events,
         |  min(x0) AS min_user, max(x0) AS max_user,
         |  min(y0) AS min_min16, max(y0) AS max_min16
         |FROM h16 GROUP BY 1 ORDER BY h_bucket""".stripMargin,
    "pipe_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a'
        |ORDER BY doc_id""".stripMargin,
    "pipe_epoch_order" ->
      """WITH legs AS (
        |  SELECT e AS epoch, doc_id,
        |    md5(CAST(e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents, UNNEST([0, 1, 2]) AS u(e)),
        |r AS (
        |  SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos
        |  FROM legs)
        |SELECT epoch, CAST(pos AS INT) AS pos, doc_id
        |FROM r WHERE pos <= 20 ORDER BY epoch, pos""".stripMargin,
    // The identical md5-range change log; last-writer-wins per key,
    // terminal deletes drop the row.
    "pipe_cdc_replay" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h4
        |  FROM documents),
        |log AS (
        |  SELECT doc_id, md5(text) AS fp, 1::BIGINT AS version, 'I' AS op FROM h
        |  UNION ALL
        |  SELECT doc_id, md5(text || ' v2'), 2, 'U' FROM h WHERE h4 < '4000'
        |  UNION ALL
        |  SELECT doc_id, NULL, 2, 'D' FROM h WHERE h4 >= '4000' AND h4 < '5000'
        |  UNION ALL
        |  SELECT doc_id, md5(text || ' v3'), 3, 'U' FROM h WHERE h4 < '1000'
        |  UNION ALL
        |  SELECT doc_id, md5(text || ' v3r'), 3, 'I' FROM h WHERE h4 >= '4000' AND h4 < '4800')
        |SELECT doc_id, fp, version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY version DESC) AS rn
        |  FROM log)
        |WHERE rn = 1 AND op <> 'D'
        |ORDER BY doc_id""".stripMargin,
    "pipe_split" ->
      """SELECT lang,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    // The two-phase bucket allocation collapses to one plain running
    // sum at oracle scale — same rule, same order.
    "pipe_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(${OracleSql.toks}) AS BIGINT) AS n_toks,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_toks,
         |    COALESCE(sum(n_toks) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM d)
         |SELECT doc_id, n_toks, CAST(prior + n_toks AS BIGINT) AS cum_toks
         |FROM c WHERE prior < $TokenBudget ORDER BY doc_id""".stripMargin,
    // The same greedy fold, stated recursively: each lang's rn-th doc
    // extends or closes the pack of the (rn-1)-th. The recursive
    // working set is one frontier row per lang, so the recursion depth
    // is max docs-per-lang — fine at oracle scale.
    "pipe_pack_sequences" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |pack AS (
         |  SELECT doc_id, lang, n_tokens, rn, 1 AS pack_id, n_tokens AS fill
         |  FROM docs WHERE rn = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.lang, d.n_tokens, d.rn,
         |    CASE WHEN p.fill + d.n_tokens > $PackBudget
         |         THEN p.pack_id + 1 ELSE p.pack_id END,
         |    CASE WHEN p.fill + d.n_tokens > $PackBudget
         |         THEN d.n_tokens ELSE p.fill + d.n_tokens END
         |  FROM pack p JOIN docs d ON d.lang = p.lang AND d.rn = p.rn + 1)
         |SELECT doc_id, lang, n_tokens, CAST(pack_id AS BIGINT) AS pack_id
         |FROM pack ORDER BY lang, doc_id""".stripMargin,
    // Same recursive packing, aggregated to the per-lang report.
    "pipe_pack_stats" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |pack AS (
         |  SELECT doc_id, lang, n_tokens, rn, 1 AS pack_id, n_tokens AS fill
         |  FROM docs WHERE rn = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.lang, d.n_tokens, d.rn,
         |    CASE WHEN p.fill + d.n_tokens > $PackBudget
         |         THEN p.pack_id + 1 ELSE p.pack_id END,
         |    CASE WHEN p.fill + d.n_tokens > $PackBudget
         |         THEN d.n_tokens ELSE p.fill + d.n_tokens END
         |  FROM pack p JOIN docs d ON d.lang = p.lang AND d.rn = p.rn + 1),
         |pk AS (
         |  SELECT lang, pack_id, CAST(sum(n_tokens) AS BIGINT) AS fill,
         |    count(*) AS nd
         |  FROM pack GROUP BY 1, 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(sum(fill) AS BIGINT) AS total_tokens,
         |  CAST(max(fill) AS BIGINT) AS max_fill,
         |  CAST(sum(CASE WHEN fill > $PackBudget THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oversize,
         |  round(CAST(sum(fill) AS DOUBLE) / (count(*) * $PackBudget), 4) AS util4
         |FROM pk GROUP BY lang ORDER BY lang""".stripMargin,
    "pipe_full_clean" ->
      s"""WITH RECURSIVE pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
         |scored AS (
         |  SELECT doc_id, lang, md5(text) AS fp,
         |         CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents WHERE len($toksSql) >= 12),
         |kept AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
         |    FROM scored)
         |  WHERE rn = 1),
         |sh2 AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
         |  WHERE len(t) >= 3),
         |bench AS (SELECT DISTINCT shingle FROM sh2 WHERE doc_id < 10),
         |contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh2 s JOIN bench USING (shingle)
         |  WHERE s.doc_id >= 10)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
         |FROM kept
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "pipe_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id AS old_id, md5(text) AS old_fp FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f000'),
        |nw AS (
        |  SELECT doc_id AS new_id,
        |    md5(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3000'
        |             THEN text || ' edited' ELSE text END) AS new_fp
        |  FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '1000')
        |SELECT status, count(*) AS n_docs FROM (
        |  SELECT CASE WHEN old_id IS NULL THEN 'added'
        |              WHEN new_id IS NULL THEN 'removed'
        |              WHEN old_fp <> new_fp THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN nw ON old_id = new_id)
        |GROUP BY status ORDER BY status""".stripMargin,
    "pipe_scd2_history" ->
      s"""$scd2Sql
         |SELECT doc_id, fp,
         |  CAST(valid_from AS INT) AS valid_from,
         |  CAST(valid_to AS INT) AS valid_to,
         |  (valid_to IS NULL) AS is_current
         |FROM rows_ ORDER BY doc_id, valid_from""".stripMargin,
    "pipe_scd2_pit" ->
      s"""$scd2Sql
         |SELECT ver, n_live, n_fps, id_sum FROM (
         |  SELECT CAST(1 AS INT) AS ver, count(*)::BIGINT AS n_live,
         |    count(DISTINCT fp)::BIGINT AS n_fps,
         |    CAST(sum(doc_id) AS BIGINT) AS id_sum
         |  FROM rows_ WHERE valid_from <= 1
         |    AND (valid_to IS NULL OR valid_to > 1)
         |  UNION ALL
         |  SELECT CAST(2 AS INT), count(*)::BIGINT,
         |    count(DISTINCT fp)::BIGINT, CAST(sum(doc_id) AS BIGINT)
         |  FROM rows_ WHERE valid_from <= 2
         |    AND (valid_to IS NULL OR valid_to > 2))
         |ORDER BY ver""".stripMargin,
    // Integer-only drift contract (counts, no ln): every column is a
    // pure count, engine-exact. The sum(...) totals CAST to BIGINT —
    // DuckDB widens sum(BIGINT) to HUGEINT, which the driver's pandas
    // fetch renders as float64 and the value-identical rows then
    // hash-mismatch on dtype (the round-7 failure). The PSI float is
    // pinned single-engine in Round9OpsSpec.
    "pipe_drift_psi" ->
      """WITH d AS (
        |  SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
        |              THEN 'ref' ELSE 'cur' END AS half,
        |    lang, CAST(length(CAST(n_chars AS VARCHAR)) AS VARCHAR) AS ldig
        |  FROM documents),
        |f AS (
        |  SELECT half, 'lang' AS feature, lang AS bucket FROM d
        |  UNION ALL
        |  SELECT half, 'len_digits' AS feature, ldig AS bucket FROM d),
        |c AS (
        |  SELECT feature, bucket,
        |    CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |  FROM f GROUP BY 1, 2),
        |t AS (
        |  SELECT feature, CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(cc) AS BIGINT) AS nc,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM c GROUP BY 1)
        |SELECT c.feature, c.bucket, c.cr, c.cc, t.nr, t.nc, t.nb
        |FROM c JOIN t ON c.feature = t.feature
        |ORDER BY c.feature, c.bucket""".stripMargin,
    // Integer cross-multiplied KS: d_num = max |cumr·nc − cumc·nr|,
    // arg-max location ties broken to the smallest value. All BIGINT
    // casts for the usual HUGEINT-dtype reason.
    "pipe_drift_ks" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_ref
        |  FROM documents),
        |pv AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS dr,
        |    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS dc
        |  FROM d GROUP BY v),
        |t AS (
        |  SELECT CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM d),
        |c AS (
        |  SELECT v,
        |    CAST(sum(dr) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumr,
        |    CAST(sum(dc) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc
        |  FROM pv)
        |SELECT nr, nc, CAST(abs(cumr * nc - cumc * nr) AS BIGINT) AS d_num,
        |  v AS at_value
        |FROM c, t
        |ORDER BY d_num DESC, v ASC LIMIT 1""".stripMargin,
    // The oracle is the DIRECT full-corpus aggregation — equality with
    // the Spark side's base⊕delta partial merge is the contract.
    "pipe_agg_maintenance" ->
      s"""SELECT lang,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(len(${OracleSql.toks})) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars4
         |FROM documents
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // Direct full-join aggregation — equality with the Spark side's
    // three-delta IVM expansion is the contract.
    "pipe_join_maintenance" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "pipe_range_shards" ->
      """WITH v AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
        |c AS (
        |  SELECT n_chars, cnt,
        |    sum(cnt) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS cb,
        |    sum(cnt) OVER () AS n
        |  FROM v),
        |m AS (
        |  SELECT n_chars,
        |    CAST(1 + least(7, (cb * 8) // n) AS INT) AS shard
        |  FROM c)
        |SELECT shard, count(*) AS n_rows,
        |  min(d.n_chars) AS lo_nchars, max(d.n_chars) AS hi_nchars
        |FROM documents d JOIN m ON d.n_chars = m.n_chars
        |GROUP BY shard ORDER BY shard""".stripMargin,
    "pipe_merge_upsert" ->
      """WITH old AS (
        |  SELECT doc_id AS old_id, md5(text) AS old_fp FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f000'),
        |nw AS (
        |  SELECT doc_id AS new_id,
        |    md5(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3000'
        |             THEN text || ' edited' ELSE text END) AS new_fp
        |  FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '1000')
        |SELECT new_id AS doc_id, new_fp AS fp,
        |  CASE WHEN old_id IS NULL THEN 'insert'
        |       WHEN old_fp <> new_fp THEN 'update'
        |       ELSE 'keep' END AS action
        |FROM old FULL OUTER JOIN nw ON old_id = new_id
        |WHERE new_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "pipe_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
         |  WHERE len(t) >= 3),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
         |corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 10),
         |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
         |hits AS (SELECT doc_id, count(*) AS n_hits
         |         FROM corpus JOIN bench USING (shingle) GROUP BY 1)
         |SELECT doc_id, n_hits, n_shingles,
         |  CAST(n_hits AS DOUBLE) / n_shingles AS contamination
         |FROM hits JOIN cnt USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "pipe_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(spark|table)\b')) AS BIGINT)
        |    AS n_redacted,
        |  md5(regexp_replace(text, '\b(spark|table)\b', '<MASK>', 'g'))
        |    AS redacted_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pipe_clean_corpus" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, md5(text) AS fp,
         |         CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE len($toksSql) >= 12),
         |survivors AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
         |    FROM scored)
         |  WHERE rn = 1)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
         |FROM survivors GROUP BY lang ORDER BY lang""".stripMargin,
    "pipe_c4_filters" ->
      s"""WITH d AS (
         |  SELECT lang, text,
         |    CAST(len($toksSql) AS BIGINT) AS nt,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
         |    CAST(list_contains($toksSql, 'the') AS BIGINT)
         |      + CAST(list_contains($toksSql, 'a') AS BIGINT)
         |      + CAST(list_contains($toksSql, 'of') AS BIGINT)
         |      + CAST(list_contains($toksSql, 'to') AS BIGINT)
         |      + CAST(list_contains($toksSql, 'and') AS BIGINT) AS n_stop
         |  FROM documents),
         |f AS (
         |  SELECT lang,
         |    CAST(nt < 50 AS BIGINT) AS f_short,
         |    CAST(nt > 10000 AS BIGINT) AS f_long,
         |    CAST(chars < 3 * nt OR chars > 10 * nt AS BIGINT) AS f_wordlen,
         |    CAST(contains(text, '{') AS BIGINT) AS f_brace,
         |    CAST(contains(lower(text), 'lorem ipsum') AS BIGINT) AS f_lorem,
         |    CAST(n_stop < 2 AS BIGINT) AS f_stop
         |  FROM d)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(f_short) AS BIGINT) AS n_short,
         |  CAST(sum(f_long) AS BIGINT) AS n_long,
         |  CAST(sum(f_wordlen) AS BIGINT) AS n_wordlen,
         |  CAST(sum(f_brace) AS BIGINT) AS n_brace,
         |  CAST(sum(f_lorem) AS BIGINT) AS n_lorem,
         |  CAST(sum(f_stop) AS BIGINT) AS n_stopfail,
         |  CAST(sum(CASE WHEN f_short + f_long + f_wordlen + f_brace
         |    + f_lorem + f_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "pipe_length_buckets" ->
      s"""WITH d AS (
         |  SELECT CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
         |c AS (
         |  SELECT nt, CASE WHEN nt <= 1 THEN 1
         |    ELSE CAST(1 AS BIGINT) << length(bin(nt - 1)) END AS cap
         |  FROM d),
         |bucketed AS (
         |  SELECT 'bucketed' AS layout, cap, count(*) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS sum_tokens
         |  FROM c GROUP BY cap),
         |gl AS (
         |  SELECT 'global' AS layout, (SELECT max(cap) FROM c) AS cap,
         |    count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens
         |  FROM c)
         |SELECT layout, cap, n_docs, sum_tokens,
         |  round(1.0 - CAST(sum_tokens AS DOUBLE)
         |    / CAST(cap * n_docs AS DOUBLE), 4) AS waste4
         |FROM (SELECT * FROM bucketed UNION ALL SELECT * FROM gl)
         |ORDER BY layout, cap""".stripMargin,
    "pipe_lang_alpha_weights" ->
      s"""WITH avail AS (
         |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT) AS tokens,
         |    count(*) AS n_docs
         |  FROM documents GROUP BY lang),
         |w AS (
         |  SELECT lang, tokens, n_docs,
         |    CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS w_micro
         |  FROM avail),
         |tot AS (
         |  SELECT CAST(sum(w_micro) AS BIGINT) AS w_tot,
         |    CAST(sum(tokens) AS BIGINT) AS t_tot FROM w)
         |SELECT lang, tokens, n_docs, w_micro,
         |  round(CAST(w_micro AS DOUBLE) / CAST(w_tot AS DOUBLE), 4) AS p4,
         |  round((CAST(w_micro AS DOUBLE) / CAST(w_tot AS DOUBLE))
         |    * (CAST(t_tot AS DOUBLE) / CAST(tokens AS DOUBLE)), 4) AS boost4
         |FROM w, tot ORDER BY lang""".stripMargin,
    "pipe_rendezvous_shards" ->
      """WITH h AS (
        |  SELECT doc_id, u.s AS s,
        |    md5(CAST(doc_id AS VARCHAR) || '#' || CAST(u.s AS VARCHAR)) AS hh
        |  FROM documents, UNNEST(range(0, 10)) AS u(s)),
        |a10 AS (SELECT doc_id, arg_max(s, hh) AS s10 FROM h GROUP BY doc_id),
        |a8 AS (SELECT doc_id, arg_max(s, hh) AS s8 FROM h WHERE s < 8
        |       GROUP BY doc_id),
        |j AS (
        |  SELECT a10.doc_id, s10, s8,
        |    CAST(s10 <> s8 AS BIGINT) AS hrw_moved,
        |    CAST(a10.doc_id % 10 <> a10.doc_id % 8 AS BIGINT) AS mod_moved
        |  FROM a10 JOIN a8 ON a10.doc_id = a8.doc_id),
        |agg AS (
        |  SELECT CAST(sum(hrw_moved) AS BIGINT) AS hrw,
        |    CAST(sum(mod_moved) AS BIGINT) AS mod,
        |    count(*) AS n_total FROM j)
        |SELECT method, n_moved, n_total,
        |  round(CAST(n_moved AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS moved4
        |FROM (
        |  SELECT 'hrw' AS method, hrw AS n_moved, n_total FROM agg
        |  UNION ALL
        |  SELECT 'mod' AS method, mod AS n_moved, n_total FROM agg)
        |ORDER BY method""".stripMargin
  )
}
