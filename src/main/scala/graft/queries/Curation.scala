package graft.queries

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: rule-based quality gating (Gopher-style),
  * exact-quota curriculum mixing, and robust (median/MAD) outlier stats.
  *
  * Cross-engine doctrine: every threshold decision here is INTEGER
  * arithmetic (`sum_len >= 3*n` instead of `sum_len/n >= 3.0`) or an
  * interpolated percentile both engines define identically — no rounded
  * double ever decides a row's fate, so the DuckDB oracle replays the
  * exact keep/flag set.
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** THE one spelling of the 5-rule Gopher gate over a staged token-array
    * column — referenced by the gate query itself, `pipe_curate`'s gate
    * stage and the NB labeler, so a threshold tweak can never silently
    * diverge the classifier's labels (or the curation pipeline) from the
    * gate query and its oracle.
    */
  private[graft] def gateRules(tk: org.apache.spark.sql.Column)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    val n = size(tk).cast("long")
    val sumLen = aggregate(tk, lit(0L), (acc, t) => acc + length(t))
    val distinctN = size(array_distinct(tk)).cast("long")
    val shortN = size(filter(tk, t => length(t) <= 2)).cast("long")
    val stopHits = size(array_intersect(
      array_distinct(tk), array(Stopwords.map(lit): _*))).cast("long")
    Seq(
      "r_wordcount" -> (n >= 50 && n <= 1000),
      "r_mean_wlen" -> (sumLen >= n * 3 && sumLen <= n * 10),
      "r_unique" -> (distinctN * 20 >= n),
      "r_stopwords" -> (stopHits >= 2),
      "r_short" -> (shortN * 4 <= n))
  }

  private[graft] def gatePass(tk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    gateRules(tk).map(_._2).reduce(_ && _)

  // ---- Gopher-style document quality gate ----
  // The rule-based pre-filter every LLM data pipeline runs before any
  // model-based scoring (Rae et al., Gopher appendix A): token-count
  // bounds, mean-word-length bounds, unique-token ratio, stopword
  // evidence, and a short-token cap. Pure per-row projection over one
  // staged token array — no shuffle, embarrassingly parallel at any
  // scale; the trailing sort is the presentation order only.
  //
  // Every rule is decided in integers: mean word length in [3, 10] is
  // `3*n <= sum_len && sum_len <= 10*n`, the 5 % unique-ratio floor is
  // `20*distinct >= n`, the 25 % short-token cap is `4*short <= n` —
  // bit-identical in any engine, no double rounding at the boundary.
  def txtQualityGate(s: SparkSession, d: String): DataFrame = {
    val tk = col("tk")
    graft.Par.sortSpread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .select(Seq(col("doc_id"), size(tk).cast("long").as("n_tokens")) ++
        gateRules(tk).map { case (name, rule) => rule.as(name) }: _*)
      .withColumn("pass",
        col("r_wordcount") && col("r_mean_wlen") && col("r_unique") &&
          col("r_stopwords") && col("r_short"))
  }

  val txtQualityGateSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     t -> len(t) > 0) AS tk
      |  FROM documents
      |), m AS (
      |  SELECT doc_id,
      |         len(tk) AS n,
      |         list_sum(list_transform(tk, t -> len(t))) AS sum_len,
      |         len(list_distinct(tk)) AS dn,
      |         len(list_filter(tk, t -> len(t) <= 2)) AS sh,
      |         len(list_intersect(list_distinct(tk),
      |             ['the','a','of','and','to','in','is'])) AS st
      |  FROM toks
      |)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |       n >= 50 AND n <= 1000 AS r_wordcount,
      |       sum_len >= n * 3 AND sum_len <= n * 10 AS r_mean_wlen,
      |       dn * 20 >= n AS r_unique,
      |       st >= 2 AS r_stopwords,
      |       sh * 4 <= n AS r_short,
      |       (n >= 50 AND n <= 1000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
      |         AND (dn * 20 >= n) AND (st >= 2) AND (sh * 4 <= n) AS pass
      |FROM m ORDER BY doc_id""".stripMargin

  // ---- temperature-flattened source mixing ----
  // The standard multilingual/multi-source rebalancing rule (mT5 / data
  // mixing literature): sample source i proportionally to cnt_i^α with
  // α = 1/2, so big sources are down-weighted and small sources
  // up-weighted relative to natural proportions. Exactly TempTotal docs
  // come out, allocated by largest remainder over the α-weights.
  //
  // Determinism doctrine: cnt^0.5 is computed as `sqrt` — IEEE 754
  // requires sqrt to be CORRECTLY ROUNDED (unlike pow/ln/exp, which are
  // merely faithful), so floor(sqrt(cnt)·10⁹) lands on the same BIGINT in
  // every engine, and all quota arithmetic after that single floor is
  // integer (floor-div + exact largest remainder). No double ever decides
  // a quota or a row. Selection within a source is the smallest-quota
  // docs by md5 mix key, with the same 8× hash-threshold prune as
  // ds_interleave so no full-source sort ever happens.
  private val TempTotal = 200

  def dsTemperature(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val strata = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      .withColumn("w", floor(sqrt(col("cnt").cast("double")) * 1e9).cast("long"))
    // deliberate unpartitioned windows over the K-row strata frame (K =
    // sources) — the WindowExec "No Partition Defined" warning is this,
    // bounded by design; see dsMixture
    val withTotal = strata.withColumn("wtot",
      sum("w").over(Window.partitionBy()))
    val base = withTotal
      .withColumn("base", expr(s"($TempTotal * w) div wtot").cast("long"))
      .withColumn("rem", (lit(TempTotal.toLong) * col("w")) % col("wtot"))
    // unpartitioned, like wtot above: runs over one row per SOURCE
    // (dozens at any scale) — bounded by design
    val wRem = Window.orderBy(desc("rem"), col("source"))
    val quotas = base
      .withColumn("deficit",
        lit(TempTotal.toLong) - sum("base").over(Window.partitionBy()))
      .withColumn("rk_rem", row_number().over(wRem))
      .withColumn("quota",
        (col("base") + when(col("rk_rem") <= col("deficit"), 1L).otherwise(0L))
          .cast("long"))
      // flattening UP-weights small sources, so unlike proportional
      // allocation a quota CAN exceed its stratum (precondition:
      // T·sqrt(cnt_i)/Σsqrt(cnt) ≤ cnt_i for every source — always true
      // when T ≪ corpus, the 100 TB regime). A violated precondition
      // would silently deliver fewer than TempTotal rows; fail loudly
      // instead, on the dozen-row quota frame (same doctrine as the
      // dd_cluster convergence check and a11's overflow guard).
      .withColumn("quota",
        coalesce(when(col("quota") <= col("cnt"), col("quota")),
          raise_error(lit("ds_temperature: quota exceeds stratum size — " +
            "TempTotal too large for this source profile")).cast("long")))
      .select(col("source"), col("cnt"), col("quota"))
    val thr = format_string("%08x",
      least(lit(4294967295L),
        floor(least(lit(1.0), lit(8.0 * TempTotal) / col("cnt"))
          * lit(4294967296.0)).cast("long")))
    val wPick = Window.partitionBy("source")
      .orderBy(col("mix_key"), col("doc_id"))
    docs
      .withColumn("mix_key",
        md5(concat(lit("temp|"), col("doc_id").cast("string"))))
      .join(broadcast(quotas.withColumn("mix_thr", thr)), Seq("source"))
      .filter(substring(col("mix_key"), 1, 8) <= col("mix_thr"))
      .withColumn("rk", row_number().over(wPick).cast("long"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("rk"), col("doc_id"), col("quota"))
      .orderBy("source", "rk")
  }

  val dsTemperatureSql: String =
    """WITH strata AS (
      |  SELECT source, count(*) AS cnt,
      |         CAST(floor(sqrt(cnt) * 1000000000.0) AS BIGINT) AS w
      |  FROM documents GROUP BY 1
      |), q AS (
      |  SELECT source, cnt, w,
      |         (200 * w) // sum(w) OVER () AS base,
      |         (200 * w) % sum(w) OVER () AS rem
      |  FROM strata
      |), quotas0 AS (
      |  SELECT source, cnt,
      |         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
      |                       <= 200 - sum(base) OVER () THEN 1 ELSE 0 END AS quota
      |  FROM q
      |), quotas AS (
      |  SELECT source, cnt,
      |         CASE WHEN quota <= cnt THEN quota
      |              ELSE CAST(error('ds_temperature: quota exceeds stratum size')
      |                        AS BIGINT) END AS quota
      |  FROM quotas0
      |), kept AS (
      |  SELECT d.source, d.doc_id, quotas.quota,
      |         md5('temp|' || CAST(d.doc_id AS VARCHAR)) AS key
      |  FROM documents d JOIN quotas ON d.source = quotas.source
      |), ranked AS (
      |  SELECT source, doc_id, quota,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY key, doc_id) AS rk
      |  FROM kept
      |)
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id,
      |       CAST(quota AS BIGINT) AS quota
      |FROM ranked WHERE rk <= quota
      |ORDER BY source, rk""".stripMargin

  // ---- capped water-filling domain mixture (token-budget allocation) ----
  // The mixture-planning step ds_temperature explicitly refuses: when a
  // domain's fair share exceeds what it HAS, ds_temperature raises. Here
  // the cap binds and the surplus redistributes — allocate a global token
  // budget B (4/5 of the corpus) across languages aiming at a UNIFORM
  // mix, capping each language at its available tokens and re-leveling
  // the remainder over the others (water-filling). No iteration: in
  // ascending-avail order a language saturates iff
  // `avail_i · k_rem <= B − cum_prev` (its supply is below the water
  // level over the remaining k_rem languages), and the saturated set is
  // a PREFIX of that order — computed with one running-min window, so a
  // non-monotone test (impossible, but cheap to guard) can never
  // resurrect saturation later. Unsaturated languages split the leftover
  // exactly: `div` base + largest-remainder (+1 to the first `resid` by
  // language order), so Σalloc = B to the token, same doctrine as
  // ds_temperature's quotas. All integers; positive operands, so DuckDB
  // `//` and Spark `div` agree.
  //
  // Scale shape: ONE corpus pass (content-addressed tokenize + groupBy
  // lang) produces the K-row domain frame; every window after that moves
  // K rows. At 100 TB with thousands of domains it is still one partial
  // agg plus a dozen-KB window stage.
  def dsMixture(s: SparkSession, d: String): DataFrame = {
    val Gc = graft.operators.Content.G
    val avail = graft.operators.Content
      .reps(Tables.documents(s, d), Seq("text", "lang"))
      .select(col("lang"),
        (size(TextFns.tokens(col("text"))).cast("long") * col(Gc)).as("toks"))
      .groupBy("lang").agg(sum("toks").cast("long").as("avail"))
    // DELIBERATE unpartitioned windows over a BOUNDED K-row frame (K =
    // distinct languages — dozens at 100 TB, never corpus-sized): Spark's
    // "WindowExec: No Partition Defined" warning in test/bench logs is
    // this, and it is intentional — the global frame IS the algorithm
    // (water-filling needs the whole domain), and the corpus-sized work
    // all happened in the groupBy above.
    val tot = Window.partitionBy()
    val wAsc = Window.orderBy("avail", "lang")
    val wLang = Window.orderBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    avail
      .withColumn("total", sum("avail").over(tot))
      .withColumn("budget", expr("(total * 4) div 5"))
      .withColumn("cum_prev", coalesce(sum("avail").over(
        wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("k_rem",
        count(lit(1)).over(tot) - row_number().over(wAsc) + 1L)
      .withColumn("sat_test",
        (col("avail") * col("k_rem") <= col("budget") - col("cum_prev"))
          .cast("int"))
      .withColumn("saturated", min("sat_test").over(
        wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1)
      .withColumn("b_unsat", col("budget") -
        coalesce(sum(when(col("saturated"), col("avail"))).over(tot), lit(0L)))
      .withColumn("n_u",
        sum(when(col("saturated"), 0L).otherwise(1L)).over(tot))
      .withColumn("rk_u",
        sum(when(col("saturated"), 0L).otherwise(1L)).over(wLang))
      .withColumn("alloc",
        when(col("saturated"), col("avail"))
          .otherwise(expr("b_unsat div n_u") +
            when(col("rk_u") <= col("b_unsat") % col("n_u"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("lang"), col("avail"), col("alloc"),
        col("saturated").cast("long").as("saturated"))
      .orderBy("lang")
  }

  val dsMixtureSql: String =
    """WITH avail AS (
      |  SELECT lang,
      |         CAST(sum(len(list_filter(
      |                string_split_regex(lower(trim(text)), '\s+'),
      |                t -> len(t) > 0))) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1
      |), lv AS (
      |  SELECT lang, avail,
      |         CAST(sum(avail) OVER () AS BIGINT) AS total,
      |         (CAST(sum(avail) OVER () AS BIGINT) * 4) // 5 AS budget,
      |         COALESCE(CAST(sum(avail) OVER (ORDER BY avail, lang
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS BIGINT), 0) AS cum_prev,
      |         count(*) OVER ()
      |           - row_number() OVER (ORDER BY avail, lang) + 1 AS k_rem
      |  FROM avail
      |), sat AS (
      |  SELECT *, min(CASE WHEN avail * k_rem <= budget - cum_prev
      |                     THEN 1 ELSE 0 END)
      |              OVER (ORDER BY avail, lang
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
      |           AS saturated
      |  FROM lv
      |), lvl AS (
      |  SELECT *,
      |         budget - COALESCE(CAST(sum(CASE WHEN saturated THEN avail END)
      |                                 OVER () AS BIGINT), 0) AS b_unsat,
      |         CAST(sum(CASE WHEN saturated THEN 0 ELSE 1 END)
      |              OVER () AS BIGINT) AS n_u,
      |         CAST(sum(CASE WHEN saturated THEN 0 ELSE 1 END)
      |              OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING
      |                    AND CURRENT ROW) AS BIGINT) AS rk_u
      |  FROM sat
      |)
      |SELECT lang, avail,
      |       CAST(CASE WHEN saturated THEN avail
      |                 ELSE b_unsat // n_u
      |                      + CASE WHEN rk_u <= b_unsat % n_u THEN 1 ELSE 0 END
      |            END AS BIGINT) AS alloc,
      |       CAST(CASE WHEN saturated THEN 1 ELSE 0 END AS BIGINT) AS saturated
      |FROM lvl ORDER BY lang""".stripMargin

  // ---- trained quality classifier: Naive Bayes over the gate labels ----
  // The model-based scoring step that follows the rule gate in real
  // pipelines (CCNet / fastText quality filters): train a Bernoulli
  // Naive-Bayes classifier on one hash split of the corpus, labeled by
  // the rule gate, and score the held-out split. Training IS aggregation
  // — per-token document frequencies by label, one shuffle on token —
  // and scoring is an equi-join from the held-out docs' distinct tokens
  // to the weight table plus an integer sum, so both phases are plain
  // shuffles that scale like any groupBy/join. Tokens unseen in training
  // contribute nothing (inner join), the standard open-vocabulary rule.
  //
  // Cross-engine doctrine: each per-token log-odds weight is ONE double
  // expression floored at 1e-6 granularity to a BIGINT micro-nat
  // (`floor`, not `round` — same reasoning as emb_quantize), and doc
  // scores are then INTEGER sums of those weights — associative, so no
  // float-summation-order divergence between engines or partitionings.
  def txtNbQuality(s: SparkSession, d: String): DataFrame =
    txtNbQualityDerived(s, d, salt = None).sortWithinPartitions("doc_id")

  // Content-addressed with STRATIFIED membership: the train/test split is
  // a doc-id rule while the label (gate pass) and the token set are
  // content-pure — so one content group can put documents on both sides
  // of the split. The collapse therefore carries a per-content
  // `n_train` (aggregated over the compact (doc_id, hash) key frame) and
  // every training count weights by it: dfp for a token is
  // Σ_contents-containing-it (pass ? n_train : 0), which is exactly the
  // naive count of passing train documents containing the token. Scoring
  // is content-pure given the vocab, so the per-content score re-expands
  // to the test members through the membership frame. With the singleton
  // salt, n_train ∈ {0,1} and every sum degenerates to the naive
  // formulation — ContentSpec compares the two bit-for-bit.
  private[graft] def txtNbQualityDerived(s: SparkSession, d: String,
                                         salt: Option[org.apache.spark.sql.Column]): DataFrame = {
    val docs = Tables.documents(s, d)
    val H = graft.operators.Content.H
    val members = docs.select(col("doc_id"),
      graft.operators.Content.memberKey(docs, Seq("text"), salt).as(H),
      (substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2)
        < "cd").as("is_train"))
    val nTrain = members.groupBy(H)
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_train"), 0L).otherwise(1L)).as("n_test"))
    val pass = gatePass(col("tk"))
    val contents = graft.operators.Content.reps(docs, Seq("text"), salt)
      .select(col(H), TextFns.tokens(col("text")).as("tk"))
      .select(col(H), array_distinct(col("tk")).as("tks"), pass.as("pass"))
      .join(nTrain, H)
    val priors = contents.agg(
      sum(when(col("pass"), col("n_train")).otherwise(0L)).as("n_pass"),
      sum(when(col("pass"), 0L).otherwise(col("n_train"))).as("n_fail"))
    val vocab = contents.filter(col("n_train") > 0)
      .select(explode(col("tks")).as("token"), col("pass"), col("n_train"))
      .groupBy("token")
      .agg(sum(when(col("pass"), col("n_train")).otherwise(0L)).as("dfp"),
        sum(when(col("pass"), 0L).otherwise(col("n_train"))).as("dff"))
      .crossJoin(broadcast(priors))
      .select(col("token"),
        floor((log(col("dfp") + 1) - log(col("n_pass") + 2)
          - log(col("dff") + 1) + log(col("n_fail") + 2)) * 1e6)
          .cast("long").as("w_micro"))
    // score only contents that have a test member — the train-only
    // majority's token explode + vocab join would be discarded by the
    // final inner membership join anyway
    val scored = contents.filter(col("n_test") > 0)
      .select(col(H), explode(col("tks")).as("token"))
      .join(vocab, "token")
      .groupBy(H)
      .agg(sum("w_micro").as("s"))
    members.filter(!col("is_train"))
      .join(contents.select(col(H), col("pass")), H)
      .join(scored, Seq(H), "left")
      .crossJoin(broadcast(priors))
      .select(col("doc_id"),
        (coalesce(col("s"), lit(0L)) +
          floor((log(col("n_pass") + 1) - log(col("n_fail") + 1)) * 1e6)
            .cast("long")).as("score_micro"),
        col("pass").as("actual"))
      .withColumn("pred", col("score_micro") > 0)
      .select("doc_id", "score_micro", "pred", "actual")
  }

  val txtNbQualitySql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     t -> len(t) > 0) AS tk
      |  FROM documents
      |), m AS (
      |  SELECT doc_id,
      |         len(tk) AS n,
      |         list_sum(list_transform(tk, t -> len(t))) AS sum_len,
      |         len(list_distinct(tk)) AS dn,
      |         len(list_filter(tk, t -> len(t) <= 2)) AS sh,
      |         len(list_intersect(list_distinct(tk),
      |             ['the','a','of','and','to','in','is'])) AS st
      |  FROM toks
      |), base AS (
      |  SELECT t.doc_id, list_distinct(t.tk) AS tks,
      |         (m.n >= 50 AND m.n <= 1000)
      |           AND (m.sum_len >= m.n * 3 AND m.sum_len <= m.n * 10)
      |           AND (m.dn * 20 >= m.n) AND (m.st >= 2)
      |           AND (m.sh * 4 <= m.n) AS pass,
      |         substr(md5('split|' || CAST(t.doc_id AS VARCHAR)), 1, 2) AS h
      |  FROM toks t JOIN m ON t.doc_id = m.doc_id
      |), train AS (SELECT * FROM base WHERE h < 'cd'
      |), test AS (SELECT * FROM base WHERE h >= 'cd'
      |), pri AS (
      |  SELECT sum(CASE WHEN pass THEN 1 ELSE 0 END) AS n_pass,
      |         sum(CASE WHEN pass THEN 0 ELSE 1 END) AS n_fail
      |  FROM train
      |), vocab AS (
      |  SELECT token,
      |         CAST(floor((ln(sum(CASE WHEN pass THEN 1 ELSE 0 END) + 1)
      |                     - ln(p.n_pass + 2)
      |                     - ln(sum(CASE WHEN pass THEN 0 ELSE 1 END) + 1)
      |                     + ln(p.n_fail + 2)) * 1000000.0) AS BIGINT) AS w_micro
      |  FROM (SELECT unnest(tks) AS token, pass FROM train), pri p
      |  GROUP BY token, p.n_pass, p.n_fail
      |), sc AS (
      |  SELECT tt.doc_id, sum(v.w_micro) AS s
      |  FROM (SELECT doc_id, unnest(tks) AS token FROM test) tt
      |  JOIN vocab v ON tt.token = v.token
      |  GROUP BY tt.doc_id
      |), prior_w AS (
      |  SELECT CAST(floor((ln(n_pass + 1) - ln(n_fail + 1)) * 1000000.0)
      |              AS BIGINT) AS w
      |  FROM pri
      |)
      |SELECT t.doc_id,
      |       CAST(coalesce(sc.s, 0) + pw.w AS BIGINT) AS score_micro,
      |       coalesce(sc.s, 0) + pw.w > 0 AS pred,
      |       t.pass AS actual
      |FROM test t LEFT JOIN sc ON t.doc_id = sc.doc_id, prior_w pw
      |ORDER BY t.doc_id""".stripMargin

  // ---- exact-quota curriculum mix (largest-remainder interleaving) ----
  // Fixed-size training-mix construction: exactly T docs total, allocated
  // across (lang, source) strata proportionally to stratum size by the
  // largest-remainder method — quotas are `floor(T·cnt/total)` plus one
  // for the R strata with the largest remainders (R = T − Σfloor), so the
  // quotas sum to T EXACTLY (a per-stratum `round()` can miss T by ±k).
  // All quota math is integer, so any engine allocates identically.
  //
  // Selection within a stratum is the deterministic smallest-k-by-md5
  // order. Skew safety as in [[graft.operators.Sampling.stratifiedTopK]]:
  // a per-stratum hash threshold (8× oversample of the T upper bound)
  // prunes giant strata BEFORE the rank window, so no full-stratum
  // single-task sort exists at any corpus scale; the threshold keeps a
  // prefix of the key order, so the pruned top-k is the global top-k.
  // Precondition: MixTotal ≤ corpus size. Then every stratum's quota is
  // ≤ its size (T < total ⇒ floor(T·cnt/total) < cnt, and the largest-
  // remainder top-up adds at most 1; T = total degenerates to keep-all),
  // so the selection always delivers EXACTLY MixTotal rows.
  private val MixTotal = 100

  def dsInterleave(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val strata = docs.groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
    // quotas on the tiny strata frame: floor + largest remainder. The
    // window spans the strata list (dozens of rows at any scale) — never
    // the corpus.
    val withTotal = strata.withColumn("total",
      sum("cnt").over(Window.partitionBy()))
    val base = withTotal
      .withColumn("base", expr(s"($MixTotal * cnt) div total").cast("long"))
      .withColumn("rem", (lit(MixTotal) * col("cnt")) % col("total"))
    // unpartitioned: one row per (lang, source) stratum — dozens at any
    // scale, bounded by design (see dsMixture's note above)
    val wRem = Window.orderBy(desc("rem"), col("lang"), col("source"))
    val quotas = base
      .withColumn("deficit",
        lit(MixTotal) - sum("base").over(Window.partitionBy()))
      .withColumn("rk_rem", row_number().over(wRem))
      .withColumn("quota",
        (col("base") + when(col("rk_rem") <= col("deficit"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("lang"), col("source"), col("cnt"), col("quota"))
    // deterministic in-stratum pick: hash-threshold prune (no full-stratum
    // sort), then rank, then the exact quota cut
    val thr = format_string("%08x",
      least(lit(4294967295L),
        floor(least(lit(1.0), lit(8.0 * MixTotal) / col("cnt"))
          * lit(4294967296.0)).cast("long")))
    val wPick = Window.partitionBy("lang", "source")
      .orderBy(col("mix_key"), col("doc_id"))
    docs
      .withColumn("mix_key",
        md5(concat(lit("mix|"), col("doc_id").cast("string"))))
      .join(broadcast(quotas.withColumn("mix_thr", thr)),
        Seq("lang", "source"))
      .filter(substring(col("mix_key"), 1, 8) <= col("mix_thr"))
      .withColumn("rk", row_number().over(wPick).cast("long"))
      .filter(col("rk") <= col("quota"))
      .select(col("lang"), col("source"), col("rk"), col("doc_id"))
      .orderBy("lang", "source", "rk")
  }

  val dsInterleaveSql: String =
    """WITH strata AS (
      |  SELECT lang, source, count(*) AS cnt FROM documents GROUP BY 1, 2
      |), q AS (
      |  SELECT lang, source, cnt,
      |         (100 * cnt) // sum(cnt) OVER () AS base,
      |         (100 * cnt) % sum(cnt) OVER () AS rem
      |  FROM strata
      |), quotas AS (
      |  SELECT lang, source, cnt,
      |         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang, source)
      |                       <= 100 - sum(base) OVER () THEN 1 ELSE 0 END AS quota
      |  FROM q
      |), kept AS (
      |  SELECT d.lang, d.source, d.doc_id, quotas.quota,
      |         md5('mix|' || CAST(d.doc_id AS VARCHAR)) AS key
      |  FROM documents d JOIN quotas ON d.lang = quotas.lang AND d.source = quotas.source
      |  WHERE substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8) <=
      |        printf('%08x', least(4294967295,
      |          CAST(floor(least(1.0, 800.0 / quotas.cnt) * 4294967296.0) AS BIGINT)))
      |), ranked AS (
      |  SELECT lang, source, doc_id, quota,
      |         CAST(row_number() OVER (PARTITION BY lang, source
      |                                 ORDER BY key, doc_id) AS BIGINT) AS rk
      |  FROM kept
      |)
      |SELECT lang, source, rk, doc_id FROM ranked
      |WHERE rk <= quota ORDER BY lang, source, rk""".stripMargin

  // ---- robust outliers: median / MAD per order priority ----
  // The robust sibling of a11's stddev outliers: median and median-
  // absolute-deviation are immune to the very outliers they hunt (one
  // 10⁹ row shifts a mean but not a median). Exact interpolated
  // percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`, both at
  // position p·(n−1)) over integer cents: medians land on k or k+0.5 —
  // exactly representable doubles — so deviations and the 3·MAD fence are
  // bit-identical cross-engine. Flag fence uses `>` on those exact
  // doubles; no epsilon needed.
  //
  // Plan: three passes over orders, each a partial-agg shuffle on the
  // 5-value priority key, with the tiny per-group stats broadcast back —
  // no global sort, no full-column collect. (Exact percentile DOES hold
  // each group's value multiset in the aggregator; at 100 TB swap in
  // Spark's built-in `approx_percentile` — this query is the
  // exact-oracle anchor for that trade.)
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val med = cents.groupBy("o_orderpriority")
      .agg(expr("percentile(cents, 0.5)").as("med"),
        count(lit(1)).as("n"))
    val dev = cents.join(broadcast(med), "o_orderpriority")
      .withColumn("dev", abs(col("cents") - col("med")))
    val mad = dev.groupBy("o_orderpriority")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"),
        (max("med") / lit(100.0)).as("median_price"),
        max("mad").as("mad_cents"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("o_orderpriority")
  }

  val madOutliersSql: String =
    """WITH c AS (
      |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), m AS (
      |  SELECT o_orderpriority, quantile_cont(cents, 0.5) AS med,
      |         count(*) AS n
      |  FROM c GROUP BY 1
      |), dv AS (
      |  SELECT c.o_orderpriority, abs(c.cents - m.med) AS dev, m.med, m.n
      |  FROM c JOIN m USING (o_orderpriority)
      |), md AS (
      |  SELECT o_orderpriority, quantile_cont(dev, 0.5) AS mad
      |  FROM dv GROUP BY 1
      |)
      |SELECT dv.o_orderpriority,
      |       CAST(max(dv.n) AS BIGINT) AS n,
      |       max(dv.med) / 100.0 AS median_price,
      |       max(md.mad) AS mad_cents,
      |       CAST(sum(CASE WHEN dv.dev > md.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers
      |FROM dv JOIN md USING (o_orderpriority)
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ---- BPE-style merge-candidate scoring (collocation mining) ----
  // The pair-scoring step of subword-vocabulary induction: rank adjacent
  // token pairs by a PMI proxy `n_ab·N / (n_a·n_b)` — how much more often
  // the pair co-occurs than independence predicts. Counts are exact
  // BIGINTs; the one double op (the final ratio) is the same expression
  // tree in both engines, so it is bit-identical. (Count products bound
  // the magnitudes: n_ab·N overflows long only past ~10⁹ pair
  // occurrences × 10⁹ tokens — at that corpus scale shard the counts
  // first.) The unigram table is vocabulary-sized — broadcast — and the
  // bigram stream compresses to per-pair counts in one shuffle before
  // any join, so the corpus is tokenized exactly once per stream.
  // Content-addressed (Content.reps): the corpus is tokenized once per
  // DISTINCT text and every count is the per-content count weighted by
  // the content's replica mass `G` — exact, since identical texts emit
  // identical token/bigram streams.
  def vocabMerges(s: SparkSession, d: String): DataFrame =
    vocabMergesDerived(s, d, salt = None)

  private[graft] def vocabMergesDerived(s: SparkSession, d: String,
                                        salt: Option[org.apache.spark.sql.Column]): DataFrame = {
    val Gc = graft.operators.Content.G
    val tk = graft.operators.Content.reps(Tables.documents(s, d), Seq("text"), salt)
      .select(col(Gc), TextFns.tokens(col("text")).as("tk"))
    val uni = tk.select(col(Gc), explode(col("tk")).as("w"))
      .groupBy("w").agg(sum(Gc).as("n"))
    val total = uni.agg(sum("n").cast("long").as("n_total"))
    val bg = tk
      .select(col(Gc), explode(TextFns.bigrams(col("tk"))).as("bg"))
      .groupBy("bg").agg(sum(Gc).as("n_ab"))
      .filter(col("n_ab") >= 5)
    bg
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(broadcast(uni.select(col("w").as("w1"), col("n").as("n_a"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n").as("n_b"))), "w2")
      .crossJoin(broadcast(total))
      .select(col("bg"), col("n_ab"), col("n_a"), col("n_b"),
        (lit(1.0) * col("n_ab") * col("n_total") / (col("n_a") * col("n_b")))
          .as("pmi_ratio"))
      .orderBy(desc("pmi_ratio"), col("bg"))
      .limit(30)
  }

  val vocabMergesSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     t -> len(t) > 0) AS tk
      |  FROM documents
      |), uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1
      |), total AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM uni),
      |bg AS (
      |  SELECT bg, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM (
      |    SELECT unnest(CASE WHEN len(tk) >= 2
      |      THEN list_transform(range(1, len(tk)),
      |                          i -> concat_ws(' ', tk[i], tk[i+1]))
      |      ELSE [] END) AS bg
      |    FROM toks)
      |  GROUP BY 1 HAVING count(*) >= 5
      |)
      |SELECT bg, n_ab, u1.n AS n_a, u2.n AS n_b,
      |       1.0 * n_ab * n_total / (u1.n * u2.n) AS pmi_ratio
      |FROM bg
      |JOIN uni u1 ON u1.w = split_part(bg, ' ', 1)
      |JOIN uni u2 ON u2.w = split_part(bg, ' ', 2)
      |CROSS JOIN total
      |ORDER BY pmi_ratio DESC, bg LIMIT 30""".stripMargin

  // ---- training-shard materialization: gate → dedup → shuffle → pack ----
  // The OTHER end-to-end composition (pipe_curate is the curation side):
  // what a run writes to disk before training starts. Exact dedup keeps
  // the min doc per distinct text (Content.repsById — one collapse, and
  // the gate then runs once per CONTENT behind the pushdown fence);
  // survivors get the ds_shuffle treatment (seed-keyed md5 order, 48-bit
  // prefix shard — RNG-free and growth-stable) and pack into 4096-char
  // bins within each shard by running-total truncation (bin = floor of
  // the preceding char total / budget, so a doc belongs to the bin its
  // START offset lands in). Output is the (shard, bin) manifest. One DAG:
  // collapse shuffle → K-shard exchange → per-shard window; nothing
  // corpus-sized moves twice.
  /** Training-shard count. `spark.graft.shards` (runtime conf) — 8 by
    * default (what the static oracle SQL encodes); a production run at
    * 100 TB sets it to thousands so no shard is a single-task sort.
    * Assignment (`hex48(md5) % N`) is growth-stable in the CORPUS (a new
    * doc never moves an old one) but NOT in N: re-sharding with a
    * different count changes every assignment — pick N once per corpus
    * generation.
    */
  private[graft] def shardN(s: SparkSession): Int = {
    val n = s.conf.get("spark.graft.shards", "8").toInt
    require(n > 0, s"spark.graft.shards must be positive, got $n")
    n
  }
  private val ShardNDefault = 8
  private val ShardBin = 4096L

  def pipeShards(s: SparkSession, d: String): DataFrame = {
    val reps = graft.operators.Content.pushdownFence(
        graft.operators.Content.repsById(Tables.documents(s, d), Seq("text")))
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("tk"))
    val kept = reps.filter(gatePass(col("tk")))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val keyed = kept
      .withColumn("h", md5(concat(lit("shard|"), col("doc_id").cast("string"))))
      .withColumn("shard", Approx.hex48(col("h")) % shardN(s))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed
      .withColumn("cum_prev", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_prev div $ShardBin"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard", "bin")
  }

  val pipeShardsSql: String = {
    val hex48 = Approx.hex48Sql("h")
    s"""WITH ded AS (
       |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
       |), m AS (
       |  SELECT doc_id, len(text) AS n_chars,
       |         len(tk) AS n,
       |         list_sum(list_transform(tk, t -> len(t))) AS sum_len,
       |         len(list_distinct(tk)) AS dn,
       |         len(list_filter(tk, t -> len(t) <= 2)) AS sh,
       |         len(list_intersect(list_distinct(tk),
       |             ['the','a','of','and','to','in','is'])) AS st
       |  FROM (
       |    SELECT doc_id, text,
       |           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                       t -> len(t) > 0) AS tk
       |    FROM ded)
       |), kept AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |         md5('shard|' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM m
       |  WHERE n >= 50 AND n <= 1000
       |    AND sum_len >= n * 3 AND sum_len <= n * 10
       |    AND dn * 20 >= n AND st >= 2 AND sh * 4 <= n
       |), keyed AS (
       |  SELECT doc_id, n_chars, h, mod($hex48, $ShardNDefault) AS shard FROM kept
       |), binned AS (
       |  SELECT shard, doc_id, n_chars,
       |         COALESCE(CAST(sum(n_chars) OVER (PARTITION BY shard
       |             ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |             AND 1 PRECEDING) AS BIGINT), 0) // $ShardBin AS bin
       |  FROM keyed
       |)
       |SELECT shard, bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM binned GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin
  }

  // ---- end-to-end curation pipeline in one DAG ----
  // The capstone composition every training-data pipeline runs: quality
  // gate → exact-dedup (keep the min doc per fingerprint) → weighted
  // Bernoulli subsample (keep-probability ∝ token count, deterministic
  // md5 threshold) → per-language token-budget packing. One lazy plan:
  // the gate and the weight are scan-side projections, dedup is one
  // shuffle on the 32-byte fingerprint, the sample is a pure filter, and
  // packing windows the survivors once per language. Every stage is the
  // oracle-checked operator it reuses — the query proves they COMPOSE
  // without materialization between stages.
  def pipeCurate(s: SparkSession, d: String): DataFrame =
    pipeCurateDerived(s, d, salt = None)

  // Content-addressed WITHOUT re-expansion or even a content hash: the
  // pipeline only ever keeps one document per content fingerprint, so
  // neither the expanded per-doc frame nor a hash key is needed — ONE
  // aggregation collapses the corpus to (content, replica count,
  // min doc_id) and everything downstream is content-sized. The fp dedup
  // runs over the content frame (min-per-fp of the per-content mins ≡
  // min over all docs), so the sampling/packing stages see exactly the
  // naive kept rows. One scan, one content-keyed shuffle with map-side
  // partial — where the first conversion attempt (hash-keyed minDoc
  // branch + rep branch) paid two corpus text passes with an md5 each
  // and measured 5.7 s at the 100× rung vs 0.8 s for this shape WITH the
  // pushdown fence (without it the gate predicate pushed below the
  // collapse and the rung read 5.7 s regardless of branch count).
  private[graft] def pipeCurateDerived(s: SparkSession, d: String,
                                       salt: Option[org.apache.spark.sql.Column]): DataFrame = {
    val docs = Tables.documents(s, d)
    val attrs = Seq("text", "lang", "n_chars")
    val n32 = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // the fence stops the gate predicate from being pushed below the
    // collapse aggregate (it is content-pure, i.e. a predicate over the
    // grouping columns) — see Content.pushdownFence
    val reps = graft.operators.Content.pushdownFence(docs
      .groupBy(attrs.map(col) ++ salt.map(_.as("__salt")).toSeq: _*)
      .agg(min("doc_id").as("doc_id"))
      .repartition(n32))
    val tk = col("tk")
    val n = size(tk).cast("long")
    val pass = gatePass(tk)
    val gated = reps
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextFns.fingerprint(col("text")).as("fp"),
        TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("fp"),
        n.as("n_tokens"), pass.as("pass"))
      .filter(col("pass"))
    // exact dedup: keep the minimum doc_id per content fingerprint
    val kept = graft.operators.Dedup.firstWins(
      gated, Seq("fp"), Seq(col("doc_id").asc)).drop("fp", "pass")
    // weighted subsample: longer (more informative) docs keep higher
    // probability — bp ∝ tokens, capped at 100%
    val sampled = graft.operators.Sampling.weightedBernoulli(
      kept, least(lit(10000L), col("n_tokens") * 20),
      md5(concat(lit("cur|"), col("doc_id").cast("string"))))
    // pack survivors into 4096-char bins per language (doc_id order) —
    // running total via the chunked two-level prefix sum (the ds_pack
    // rewrite): a flat per-lang window would make the biggest language
    // one corpus-width task at scale
    TextQueries.packCumsum(sampled.select("doc_id", "lang", "n_chars"),
        "n_chars")
      .withColumn("bin", expr("(cum - n_chars) div 4096"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (max("bin") + 1).cast("long").as("n_bins"),
        sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  val pipeCurateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, n_chars, text,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     t -> len(t) > 0) AS tk
      |  FROM documents
      |), gated AS (
      |  SELECT doc_id, lang, n_chars, text, len(tk) AS n_tokens
      |  FROM toks
      |  WHERE len(tk) BETWEEN 50 AND 1000
      |    AND list_sum(list_transform(tk, t -> len(t))) BETWEEN len(tk) * 3 AND len(tk) * 10
      |    AND len(list_distinct(tk)) * 20 >= len(tk)
      |    AND len(list_intersect(list_distinct(tk),
      |          ['the','a','of','and','to','in','is'])) >= 2
      |    AND len(list_filter(tk, t -> len(t) <= 2)) * 4 <= len(tk)
      |), kept AS (
      |  SELECT doc_id, lang, n_chars, n_tokens FROM (
      |    SELECT *, row_number() OVER (
      |        PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |        ORDER BY doc_id) AS rk
      |    FROM gated)
      |  WHERE rk = 1
      |), sampled AS (
      |  SELECT * FROM kept
      |  WHERE substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 8) <
      |        printf('%08x', least(4294967295,
      |          CAST(floor(least(10000, n_tokens * 20) * 4294967296.0 / 10000.0)
      |               AS BIGINT)))
      |), packed AS (
      |  SELECT lang, n_chars,
      |         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |                            ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM sampled
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max((cum - n_chars) // 4096) + 1 AS BIGINT) AS n_bins,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM packed GROUP BY 1 ORDER BY lang""".stripMargin

  // ---- tokenizer vocabulary coverage / OOV audit ----
  // The measurement behind a vocab-size decision: fix the top-K corpus
  // tokens (ties broken by token text so the cut is total-ordered), then
  // report per-language token volume and the out-of-vocabulary share in
  // integer basis points. K = 16 here, corpus-aware: the synthetic corpus
  // has a 31-token vocabulary, so a production-sized K would cover 100%
  // and the audit would differential-test nothing (a real pipeline runs
  // the same query with K ≈ 30k-100k — K is data, not design).
  // Scale shape: the vocab is
  // one token-count shuffle followed by a global TakeOrdered (never a
  // single-partition row_number window — the vocabulary can be 10⁸ rows
  // at corpus scale, but only K survive the heap); coverage is a second
  // scan with the K-row vocab broadcast. Two scans are inherent — the
  // statistic is self-referential (corpus-defined vocab over the corpus).
  def tokCoverage(s: SparkSession, d: String): DataFrame = {
    tokCoverageDerived(s, d, salt = None)
  }

  // Content-addressed (Content.reps, weighted by `G` like vocabMerges):
  // both the vocab count and the coverage count weight each distinct
  // text's token stream by its replica mass; the rep frame's exchange is
  // materialized once and reused by the two consumers (the naive shape
  // scanned + tokenized the corpus twice — the two scans were inherent
  // only in the SELF-REFERENTIAL sense, not as duplicated token work).
  private[graft] def tokCoverageDerived(s: SparkSession, d: String,
                                        salt: Option[org.apache.spark.sql.Column]): DataFrame = {
    val Gc = graft.operators.Content.G
    val toks = graft.operators.Content
      .reps(Tables.documents(s, d), Seq("text", "lang"), salt)
      .select(col("lang"), col(Gc), explode(TextFns.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(sum(Gc).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(16)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("lang")
      .agg(sum(Gc).as("total_tokens"),
        sum(when(col("in_vocab").isNull, col(Gc)).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_bp", expr("(oov_tokens * 10000) div total_tokens"))
      .select("lang", "total_tokens", "oov_tokens", "oov_bp")
      .orderBy("lang")
  }

  val tokCoverageSql: String =
    """WITH toks AS (
      |  SELECT lang,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                            t -> len(t) > 0)) AS tok
      |  FROM documents
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
      |  ORDER BY cnt DESC, tok LIMIT 16
      |), cov AS (
      |  SELECT t.lang, CAST(count(*) AS BIGINT) AS total_tokens,
      |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS oov_tokens
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      |  GROUP BY 1
      |)
      |SELECT lang, total_tokens, oov_tokens,
      |       CAST((oov_tokens * 10000 - mod(oov_tokens * 10000, total_tokens))
      |              / total_tokens AS BIGINT) AS oov_bp
      |FROM cov ORDER BY lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "tok_coverage" -> (tokCoverage _),
    "pipe_curate" -> (pipeCurate _),
    "pipe_shards" -> (pipeShards _),
    "txt_quality_gate" -> (txtQualityGate _),
    "txt_nb_quality" -> (txtNbQuality _),
    "ds_temperature" -> (dsTemperature _),
    "ds_mixture" -> (dsMixture _),
    "ds_interleave" -> (dsInterleave _),
    "a12_mad_outliers" -> (madOutliers _),
    "vocab_merges" -> (vocabMerges _))

  val oracles: Map[String, String] = Map(
    "tok_coverage" -> tokCoverageSql,
    "pipe_curate" -> pipeCurateSql,
    "pipe_shards" -> pipeShardsSql,
    "txt_quality_gate" -> txtQualityGateSql,
    "txt_nb_quality" -> txtNbQualitySql,
    "ds_temperature" -> dsTemperatureSql,
    "ds_mixture" -> dsMixtureSql,
    "ds_interleave" -> dsInterleaveSql,
    "a12_mad_outliers" -> madOutliersSql,
    "vocab_merges" -> vocabMergesSql)
}
