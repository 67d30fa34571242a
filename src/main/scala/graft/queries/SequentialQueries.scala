package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.{q6, q6Sql}

/** Sequential-decision analytics: always-valid sequential testing
  * (the "peeking problem" fix for experiment dashboards) and absorbing
  * Markov-chain journey analysis (expected steps / conversion
  * probability per funnel state). Same exactness contract as
  * [[RobustQueries]]: exact integer cumulative sums, one shared
  * closed-form expression tree per engine, ordered folds for every
  * float sum, tie-free `floor(x·10⁶+0.5)/10⁶` outputs.
  */
object SequentialQueries {

  // --------------------------------------------------------------------
  // q_msprt — mixture-SPRT always-valid experiment monitoring
  // --------------------------------------------------------------------

  /** Mixture sequential probability ratio test (Johari et al., "Peeking
    * at A/B tests") over a daily-checkpointed two-arm experiment (arm =
    * user_id parity, success = purchase among click/purchase events):
    * at each day, from exact cumulative counts,
    *
    *   θ̂ = x̂A/nA − x̂B/nB,  V = p̂(1−p̂)(1/nA + 1/nB),
    *   Λ = √(V/(V+τ²)) · exp(θ̂²τ² / (2V(V+τ²))),  τ² = 0.01,
    *   p_seq = running min of min(1, 1/Λ)
    *
    * — the always-valid p-value a dashboard may refresh daily without
    * inflating false positives. Both engines build Λ from the same
    * integer cumulatives with the same expression tree, so the doubles
    * are bit-identical.
    *
    * Scale: one keyed (day, arm) aggregate over the stream; everything
    * after runs on the bounded day axis.
    */
  def msprt(s: SparkSession, dir: String): DataFrame = {
    val tau2 = 0.01
    val daily = Tables
      .events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        (col("user_id") % 2).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
      .groupBy(col("d"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("xa"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("xb"))
    // cumulative sums over the bounded day-axis aggregate
    val wCum = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .select(
        col("d"),
        sum(col("na")).over(wCum).as("cna"),
        sum(col("xa")).over(wCum).as("cxa"),
        sum(col("nb")).over(wCum).as("cnb"),
        sum(col("xb")).over(wCum).as("cxb"))
      .filter(col("cna") > 0 && col("cnb") > 0)
      .withColumn(
        "phat",
        (col("cxa") + col("cxb")).cast("double") / (col("cna") + col("cnb")).cast("double"))
      .filter(col("phat") > 0.0 && col("phat") < 1.0)
      .withColumn(
        "theta",
        col("cxa").cast("double") / col("cna").cast("double") -
          col("cxb").cast("double") / col("cnb").cast("double"))
      .withColumn(
        "v",
        col("phat") * (lit(1.0) - col("phat")) *
          (lit(1.0) / col("cna").cast("double") + lit(1.0) / col("cnb").cast("double")))
      .withColumn(
        "lam",
        sqrt(col("v") / (col("v") + lit(tau2))) *
          exp(col("theta") * col("theta") * lit(tau2) /
            (lit(2.0) * col("v") * (col("v") + lit(tau2)))))
    cum
      .withColumn(
        "p_seq",
        min(least(lit(1.0), lit(1.0) / col("lam"))).over(wCum))
      .select(
        col("d"),
        col("cna").as("n_a"),
        col("cnb").as("n_b"),
        q6(col("theta")).as("theta"),
        // log-space mixture evidence: at sf1 the raw λ reaches e^45 and
        // no fixed quantization of it can be engine-stable (the sf1
        // sweep caught Spark's floor saturating at 2^63); ln λ is the
        // always-valid evidence scale and is computed WITHOUT ever
        // exponentiating, so it is bounded at any corpus size
        q6(lit(0.5) * log(col("v") / (col("v") + lit(tau2))) +
          col("theta") * col("theta") * lit(tau2) /
            (lit(2.0) * col("v") * (col("v") + lit(tau2)))).as("log_lambda"),
        q6(col("p_seq")).as("p_seq"))
  }

  val msprtSql: String =
    s"""WITH daily AS (
         SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
                CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS xa,
                CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS xb
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1),
       cum0 AS (
         SELECT d,
                CAST(sum(na) OVER w AS BIGINT) AS cna,
                CAST(sum(xa) OVER w AS BIGINT) AS cxa,
                CAST(sum(nb) OVER w AS BIGINT) AS cnb,
                CAST(sum(xb) OVER w AS BIGINT) AS cxb
         FROM daily
         WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       cum1 AS (
         SELECT *,
                CAST(cxa + cxb AS DOUBLE) / CAST(cna + cnb AS DOUBLE) AS phat
         FROM cum0 WHERE cna > 0 AND cnb > 0),
       cum2 AS (
         SELECT *,
                CAST(cxa AS DOUBLE) / CAST(cna AS DOUBLE)
                  - CAST(cxb AS DOUBLE) / CAST(cnb AS DOUBLE) AS theta,
                phat * (1.0 - phat)
                  * (1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE)) AS v
         FROM cum1 WHERE phat > 0.0 AND phat < 1.0),
       cum3 AS (
         SELECT *,
                sqrt(v / (v + 0.01))
                  * exp(theta * theta * 0.01 / (2.0 * v * (v + 0.01))) AS lam
         FROM cum2)
       SELECT d, cna AS n_a, cnb AS n_b,
              ${q6Sql("theta")} AS theta,
              ${q6Sql("""0.5 * ln(v / (v + 0.01))
                 + theta * theta * 0.01 / (2.0 * v * (v + 0.01))""")} AS log_lambda,
              ${q6Sql(
        """min(least(1.0, 1.0 / lam)) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")} AS p_seq
       FROM cum3"""

  // --------------------------------------------------------------------
  // q_absorbing_markov — expected steps / conversion probability
  // --------------------------------------------------------------------

  /** Absorbing Markov-chain analysis of the user journey: states are
    * event types, `purchase` and the virtual `END` (chain termination)
    * absorb; from the row-normalized transient transition matrix Q and
    * conversion column R, iterate the fundamental-matrix series
    *
    *   t ← 1 + Q·t   (expected steps to absorption)
    *   b ← R + Q·b   (probability of absorbing in `purchase`)
    *
    * 20 synchronous rounds — the journey-length / conversion-odds
    * readout per funnel state (the attribution companion to
    * q_markov_attribution's removal effects). Both engines unroll the
    * same 20 rounds over the ≤4×5 matrix with value-ordered ≤4-term
    * folds, so every iterate is bit-identical.
    *
    * Scale: one user-partitioned lead() pass builds transitions — that
    * is the distributed work, and ALL of it. The 20-round recursion
    * then runs on the REDUCED statistics: the row-normalized matrix is
    * |event-type vocabulary|²-bounded (≤ ~25 entries at ANY corpus
    * size — it is an aggregate, not data), so it is collected and
    * iterated in Scala with exactly the oracle's value-ordered fold
    * (terms sorted ascending before summation; inserting/removing 0.0
    * terms cannot change an IEEE sum, and join-missing states are
    * skipped, mirroring the SQL inner join). The r12 shape built the
    * recursion as 40 nested Spark joins over ≤4-row frames — ~3 s of
    * pure plan/scheduling overhead for 25 numbers. Quantization stays
    * in Spark (q6 on the result frame) for engine parity.
    *
    * EAGER CONSTRUCTION (deliberate, unique on the board): unlike every
    * other query builder, calling this function runs Spark jobs (the
    * vocabulary-bounded `trans.collect()`) BEFORE any action on the
    * returned frame — plan-only tooling that constructs the map entry
    * pays one scan of `events`. Accepted trade: the alternative (the
    * r12 40-join lazy plan) costs ~3 s at EVERY execution, and no
    * dry-run path in this repo constructs q_absorbing_markov without
    * executing it.
    */
  def absorbingMarkov(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", coalesce(lead(col("event_type"), 1).over(byUser), lit("END")))
      .filter(col("event_type") =!= "purchase") // absorbing: no outgoing edges
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("n"))
    // ONE tiny collect of the vocabulary-bounded transition counts;
    // row totals and probabilities derive locally (same n/ca division,
    // binary64 either way)
    val counts = trans.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ca: Map[String, Long] =
      counts.groupBy(_._1).map { case (a, rs) => a -> rs.map(_._3).sum }
    val prob = counts.map { case (a, b, n) => (a, b, n.toDouble / ca(a).toDouble) }
    val q = prob.filter { case (_, b, _) => b != "purchase" && b != "END" }
    val rp: Map[String, Double] =
      prob.collect { case (a, b, p) if b == "purchase" => a -> p }.toMap
    val statesSorted = ca.keys.toSeq.sorted
    // the oracle's fold: terms value-sorted ascending, then summed
    def foldSum(terms: Seq[Double]): Double = terms.sorted.foldLeft(0.0)(_ + _)
    var t: Map[String, Double] = statesSorted.map(_ -> 0.0).toMap
    var bb: Map[String, Double] = statesSorted.map(_ -> 0.0).toMap
    for (_ <- 1 to 20) {
      val qt = q
        .collect { case (a, b, p) if t.contains(b) => (a, p * t(b)) }
        .groupBy(_._1).map { case (a, xs) => a -> foldSum(xs.map(_._2).toSeq) }
      val tNew = statesSorted.map(a => a -> (1.0 + qt.getOrElse(a, 0.0))).toMap
      val qb = q
        .collect { case (a, b, p) if bb.contains(b) => (a, p * bb(b)) }
        .groupBy(_._1).map { case (a, xs) => a -> foldSum(xs.map(_._2).toSeq) }
      bb = statesSorted
        .map(a => a -> (rp.getOrElse(a, 0.0) + qb.getOrElse(a, 0.0))).toMap
      t = tNew
    }
    import s.implicits._
    statesSorted
      .map(a => (a, ca(a), t(a), bb(a)))
      .toDF("state", "n_out", "t", "bb")
      .select(
        col("state"),
        col("n_out"),
        q6(col("t")).as("exp_steps"),
        q6(col("bb")).as("p_convert"))
  }

  val absorbingMarkovSql: String = {
    val rounds = (1 to 20)
      .map { r =>
        s"""t$r AS MATERIALIZED (
           SELECT s.a, 1.0 + coalesce(qt.v, 0.0) AS t
           FROM states s LEFT JOIN (
             SELECT q.a, list_reduce(list_sort(list(q.p * p.t)), (x, y) -> x + y) AS v
             FROM q JOIN t${r - 1} p ON q.b = p.a GROUP BY 1) qt ON s.a = qt.a),
         b$r AS MATERIALIZED (
           SELECT s.a, coalesce(rp.r, 0.0) + coalesce(qb.v, 0.0) AS bb
           FROM states s
           LEFT JOIN rp ON s.a = rp.a
           LEFT JOIN (
             SELECT q.a, list_reduce(list_sort(list(q.p * p.bb)), (x, y) -> x + y) AS v
             FROM q JOIN b${r - 1} p ON q.b = p.a GROUP BY 1) qb ON s.a = qb.a)"""
      }
      .mkString(",\n       ")
    s"""WITH seq AS MATERIALIZED (
         SELECT user_id, event_type,
                coalesce(lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id), 'END') AS next_type
         FROM events),
       trans AS MATERIALIZED (
         SELECT event_type AS a, next_type AS b, count(*) AS n
         FROM seq WHERE event_type <> 'purchase' GROUP BY 1, 2),
       states AS MATERIALIZED (SELECT a, CAST(sum(n) AS BIGINT) AS ca FROM trans GROUP BY 1),
       prob AS MATERIALIZED (
         SELECT t.a, t.b, CAST(t.n AS DOUBLE) / CAST(s.ca AS DOUBLE) AS p
         FROM trans t JOIN states s ON t.a = s.a),
       q AS MATERIALIZED (SELECT * FROM prob WHERE b <> 'purchase' AND b <> 'END'),
       rp AS MATERIALIZED (SELECT a, p AS r FROM prob WHERE b = 'purchase'),
       t0 AS MATERIALIZED (SELECT a, CAST(0.0 AS DOUBLE) AS t FROM states),
       b0 AS MATERIALIZED (SELECT a, CAST(0.0 AS DOUBLE) AS bb FROM states),
       $rounds
       SELECT s.a AS state, s.ca AS n_out,
              ${q6Sql("t20.t")} AS exp_steps,
              ${q6Sql("b20.bb")} AS p_convert
       FROM states s JOIN t20 ON s.a = t20.a JOIN b20 ON s.a = b20.a"""
  }

  // --------------------------------------------------------------------
  // q_viterbi — HMM most-likely-path decode of user sessions
  // --------------------------------------------------------------------

  /** Quantized log-probability weights (milli-nats) for the 3-state
    * session HMM: states 1=browse, 2=engaged, 3=frustrated; observations
    * 0=click, 1=view, 2=purchase, 3=signup, 4=error. One Scala source of
    * truth formatted into the Spark expression AND the DuckDB literals.
    */
  private val VitInit: Array[Long] = Array(0L, -1200L, -2300L)
  private val VitTrans: Array[Long] = // from-major: trans((from-1)*3 + to-1)
    Array(-300L, -1500L, -2500L, -1400L, -400L, -2000L, -1000L, -2200L, -600L)
  private val VitEmit: Array[Long] = // state-major: emit((s-1)*5 + obs)
    Array(
      -900L, -700L, -3000L, -2500L, -2800L, // browse
      -1200L, -1100L, -900L, -1300L, -3500L, // engaged
      -1600L, -1800L, -4000L, -3800L, -300L) // frustrated

  private def sparkArr(a: Array[Long]): String = a.mkString("array(", "L, ", "L)")
  private def duckArr(a: Array[Long]): String = a.mkString("[", ", ", "]")

  private val obsCaseSql =
    """CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
       WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END"""

  /** Viterbi decode of each user's event sequence under the session HMM
    * — the sequence-labeling primitive behind session-quality tagging
    * and burst/bot segmentation. The kernel is [[graft.plans.ViterbiPath]]
    * (codegen'd integer max-plus trellis, first-max tie-break); the
    * readout re-scores the decoded path from the SAME literal weight
    * tables in both engines, so `score` doubles as a proof the decoded
    * path is weight-consistent, and `path_sig` (Σ i·state_i) pins the
    * whole path, not just its state histogram.
    *
    * Scale: one keyed aggregate assembles each sequence (map-side
    * combine on the obs structs), then the decode is fused into the
    * projection — per-sequence independent, no further shuffle.
    */
  def viterbi(s: SparkSession, dir: String): DataFrame = {
    graft.plans.ViterbiPath.register(s, "viterbi_path", VitInit, VitTrans, VitEmit)
    val obs = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("ts"),
        col("event_id"),
        expr(obsCaseSql).cast("int").as("o"))
    val seqs = obs
      .groupBy(col("user_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("o")))),
          x => x.getField("o")).as("obs"))
    val initA = sparkArr(VitInit)
    val transA = sparkArr(VitTrans)
    val emitA = sparkArr(VitEmit)
    seqs
      .withColumn("path", expr("viterbi_path(obs)"))
      .select(
        col("user_id"),
        size(col("obs")).cast("long").as("n_events"),
        size(filter(col("path"), _ === 1L)).cast("long").as("n_browse"),
        size(filter(col("path"), _ === 2L)).cast("long").as("n_engaged"),
        size(filter(col("path"), _ === 3L)).cast("long").as("n_frustrated"),
        element_at(col("path"), -1).as("last_state"),
        expr("aggregate(sequence(1, size(path)), 0L, (acc, i) -> acc + i * element_at(path, i))")
          .as("path_sig"),
        expr(
          s"""element_at($initA, cast(element_at(path, 1) as int))
             + aggregate(sequence(1, size(obs)), 0L, (acc, i) -> acc + element_at($emitA,
                 cast((element_at(path, i) - 1) * 5 + element_at(obs, i) + 1 as int)))
             + IF(size(obs) >= 2,
                 aggregate(sequence(2, size(obs)), 0L, (acc, i) -> acc + element_at($transA,
                   cast((element_at(path, i - 1) - 1) * 3 + element_at(path, i) as int))),
                 0L)""").as("score"))
  }

  /** DuckDB replay of [[graft.plans.ViterbiPath]] for any weight set:
    * given an upstream `seqs(user_id, obs)` CTE, emits the `it`
    * (trellis, per-step argmax backpointers) and `bt` (backtrack) CTE
    * bodies. Shared by [[viterbiSql]] and [[burstDetectSql]] so the
    * replay logic exists exactly once.
    */
  private def viterbiReplayCtes(
      init: Array[Long],
      trans: Array[Long],
      emit: Array[Long]): String = {
    val s = init.length
    val o = emit.length / s
    val states = (1 to s).mkString("[", ", ", "]")
    val initL = duckArr(init)
    val transL = duckArr(trans)
    val emitL = duckArr(emit)
    // candidate from-state scores for to-state sp, given the previous
    // delta vector dv — repeated verbatim for the max and the argmax
    def cand(dv: String) =
      s"list_transform($states, s -> $dv[s] + ($transL)[(s - 1) * $s + sp])"
    s"""it AS (
         SELECT user_id, obs, 1 AS i,
                list_transform($states,
                  s -> ($initL)[s] + ($emitL)[(s - 1) * $o + obs[1] + 1]) AS dv,
                CAST([] AS BIGINT[]) AS bp
         FROM seqs
         UNION ALL
         SELECT user_id, obs, i + 1,
                list_transform($states, sp ->
                  list_max(${cand("dv")}) + ($emitL)[(sp - 1) * $o + obs[i + 1] + 1]),
                list_concat(bp, list_transform($states, sp ->
                  CAST(list_position(${cand("dv")}, list_max(${cand("dv")})) AS BIGINT)))
         FROM it WHERE i < len(obs)),
       fin AS (SELECT user_id, obs, dv, bp, len(obs) AS t FROM it WHERE i = len(obs)),
       bt AS (
         SELECT user_id, obs, bp, t, t AS j,
                CAST(list_position(dv, list_max(dv)) AS BIGINT) AS st,
                [CAST(list_position(dv, list_max(dv)) AS BIGINT)] AS path
         FROM fin
         UNION ALL
         SELECT user_id, obs, bp, t, j - 1,
                bp[(j - 2) * $s + st],
                list_prepend(bp[(j - 2) * $s + st], path)
         FROM bt WHERE j > 1)"""
  }

  val viterbiSql: String = {
    val init = duckArr(VitInit)
    val trans = duckArr(VitTrans)
    val emit = duckArr(VitEmit)
    s"""WITH RECURSIVE seqs AS (
         SELECT user_id, list($obsCaseSql ORDER BY ts, event_id) AS obs
         FROM events GROUP BY 1),
       ${viterbiReplayCtes(VitInit, VitTrans, VitEmit)}
       SELECT user_id, CAST(t AS BIGINT) AS n_events,
              CAST(len(list_filter(path, p -> p = 1)) AS BIGINT) AS n_browse,
              CAST(len(list_filter(path, p -> p = 2)) AS BIGINT) AS n_engaged,
              CAST(len(list_filter(path, p -> p = 3)) AS BIGINT) AS n_frustrated,
              path[t] AS last_state,
              CAST(list_sum(list_transform(generate_series(1, CAST(t AS INT)),
                i -> i * path[i])) AS BIGINT) AS path_sig,
              CAST(($init)[path[1]]
                + list_sum(list_transform(generate_series(1, CAST(t AS INT)),
                    i -> ($emit)[(path[i] - 1) * 5 + obs[i] + 1]))
                + COALESCE(list_sum(list_transform(generate_series(2, CAST(t AS INT)),
                    i -> ($trans)[(path[i - 1] - 1) * 3 + path[i]])), 0)
                AS BIGINT) AS score
       FROM bt WHERE j = 1"""
  }

  // --------------------------------------------------------------------
  // q_burst_detect — 2-state burst segmentation of user activity
  // --------------------------------------------------------------------

  /** Kleinberg-style burst segmentation of each user's activity via the
    * SAME [[graft.plans.ViterbiPath]] kernel with a 2-state
    * (calm/burst) × 10-observation (inter-arrival-gap decile) weight
    * set: bursts emit short gaps cheaply, state changes pay a
    * transition penalty — the automaton's most-likely path segments the
    * stream into burst episodes. Demonstrates the kernel is generic
    * over (S, O): only the literal weight tables differ from
    * [[viterbi]], and the DuckDB replay reuses [[viterbiReplayCtes]]
    * verbatim.
    *
    * Scale: one lag() pass per user (partitioned window), one keyed
    * aggregate to assemble gap sequences, decode fused into the
    * projection.
    */
  private val BurstInit: Array[Long] = Array(0L, -1500L)
  private val BurstTrans: Array[Long] = Array(-100L, -2500L, -1800L, -200L)
  private val BurstEmit: Array[Long] = Array(
    -3500L, -2800L, -2200L, -1600L, -1200L, -900L, -700L, -600L, -500L, -400L, // calm
    -300L, -500L, -900L, -1500L, -2200L, -3000L, -3600L, -4200L, -4800L, -5400L) // burst

  // gap is exact BIGINT MICROSECONDS on both engines (unix_micros /
  // epoch_us): the fixture timestamps carry sub-second components, so
  // second-truncated casts would bucket boundary gaps differently
  private val gapBucketSql = {
    // decile-ish edges for the fixture's inter-arrival distribution
    // (median gap ~7.3 h): chosen so all ten observation codes occur
    val edges = Seq(4200L, 8400L, 14400L, 19800L, 26400L, 34800L, 45600L, 61200L, 90000L)
    edges.zipWithIndex
      .map { case (sec, i) => s"WHEN gap < ${sec * 1000000L} THEN $i" }
      .mkString("CASE ", " ", " ELSE 9 END")
  }

  def burstDetect(s: SparkSession, dir: String): DataFrame = {
    graft.plans.ViterbiPath.register(s, "burst_path", BurstInit, BurstTrans, BurstEmit)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .withColumn("o", expr(gapBucketSql).cast("int"))
    val seqs = gaps
      .groupBy(col("user_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("o")))),
          x => x.getField("o")).as("obs"))
    seqs
      .withColumn("path", expr("burst_path(obs)"))
      .select(
        col("user_id"),
        size(col("obs")).cast("long").as("n_gaps"),
        size(filter(col("path"), _ === 2L)).cast("long").as("n_burst"),
        expr("""IF(size(path) >= 2,
                  aggregate(sequence(2, size(path)), 0L, (acc, i) ->
                    acc + IF(element_at(path, i) != element_at(path, i - 1), 1L, 0L)),
                  0L)""").as("n_switches"),
        expr("aggregate(sequence(1, size(path)), 0L, (acc, i) -> acc + i * element_at(path, i))")
          .as("path_sig"))
  }

  val burstDetectSql: String =
    s"""WITH RECURSIVE g0 AS (
         SELECT user_id, ts, event_id,
                epoch_us(CAST(ts AS TIMESTAMP))
                  - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         FROM events),
       seqs AS (
         SELECT user_id, list($gapBucketSql ORDER BY ts, event_id) AS obs
         FROM g0 WHERE gap IS NOT NULL GROUP BY 1),
       ${viterbiReplayCtes(BurstInit, BurstTrans, BurstEmit)}
       SELECT user_id, CAST(t AS BIGINT) AS n_gaps,
              CAST(len(list_filter(path, p -> p = 2)) AS BIGINT) AS n_burst,
              CAST(COALESCE(list_sum(list_transform(generate_series(2, CAST(t AS INT)),
                i -> CASE WHEN path[i] <> path[i - 1] THEN 1 ELSE 0 END)), 0) AS BIGINT)
                AS n_switches,
              CAST(list_sum(list_transform(generate_series(1, CAST(t AS INT)),
                i -> i * path[i])) AS BIGINT) AS path_sig
       FROM bt WHERE j = 1"""

  // --------------------------------------------------------------------
  // q_ucb_replay — deterministic UCB1 offline policy replay
  // --------------------------------------------------------------------

  /** Deterministic offline replay of UCB1 (Auer et al. 2002) over the
    * daily batched event log: arms are the five event types, the
    * day-d reward of an arm is that day's mean event value (a ratio of
    * exact BIGINT cents/count sums), the policy plays each arm once in
    * arm order for the first five days, then daily picks
    * argmax_a m̄_a + √(2·ln(t−1)/n_a) and receives the picked arm's
    * actual reward for that day — the offline bandit-evaluation readout
    * an experimentation platform runs before deploying an adaptive
    * allocator. Scores are quantized to 1e-9 before each argmax (ties →
    * lowest arm index via first-max), so the whole trajectory is
    * engine-stable.
    *
    * Scale: one (day, arm) map-side-combined aggregate over the stream;
    * the 30-round replay is an `aggregate()` fold over the bounded
    * 150-cell reward matrix on a single row (the DuckDB twin replays it
    * in a 30-step recursive CTE with the per-step score list and pick
    * hoisted into derived tables, mirroring the fold's let-bindings).
    */
  def ucbReplay(s: SparkSession, dir: String): DataFrame = {
    val arms = Seq("click", "error", "purchase", "signup", "view")
    val armArr = arms.map(a => s"'$a'").mkString("array(", ", ", ")")
    val cells = Tables
      .events(s, dir)
      .groupBy(
        date_trunc("day", col("ts")).as("d"),
        col("event_type").as("atype"))
      .agg(
        sum(round(col("value") * 100).cast("long")).as("cents"),
        count(lit(1)).as("cnt"))
      .select(
        col("d"), col("atype"),
        (col("cents").cast("double") / col("cnt").cast("double")).as("rm"))
    val one = cells
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("atype"), col("rm")))).as("cells"))
      .select(expr("transform(cells, x -> x.rm)").as("r"), size(col("cells")).as("sz"))
      .withColumn("nd", expr("sz div 5"))
    // scores for round t given state st (means + exploration bonus),
    // quantized BEFORE the argmax so tie order is engine-stable
    val scores =
      """transform(sequence(1, 5), a ->
           floor((element_at(st.s, a) / cast(element_at(st.n, a) as double)
                  + sqrt(2.0D * ln(cast(t - 1 as double))
                         / cast(element_at(st.n, a) as double))) * 1e9 + 0.5) / 1e9)"""
    val fold =
      s"""aggregate(
            sequence(6, nd),
            named_struct(
              'n', transform(sequence(1, 5), a -> 1L),
              's', transform(sequence(1, 5), a -> element_at(r, (a - 1) * 5 + a))),
            (st, t) -> element_at(transform(array($scores), sc ->
              element_at(transform(array(array_position(sc, array_max(sc))), p ->
                named_struct(
                  'n', transform(sequence(1, 5), a ->
                         IF(a = p, element_at(st.n, a) + 1L, element_at(st.n, a))),
                  's', transform(sequence(1, 5), a ->
                         IF(a = p, element_at(st.s, a)
                                   + element_at(r, cast((t - 1) * 5 + p as int)),
                            element_at(st.s, a))))), 1)), 1))"""
    one
      .withColumn("st", expr(fold))
      .select(posexplode(expr("sequence(1, 5)")), col("st"), col("nd"))
      .select(
        expr(s"element_at($armArr, col)").as("arm"),
        expr("element_at(st.n, col)").as("picks"),
        q6(expr("element_at(st.s, col)")).as("total_reward"),
        q6(expr("element_at(st.s, col) / cast(element_at(st.n, col) as double)"))
          .as("mean_reward"),
        col("nd").cast("long").as("n_rounds"))
  }

  val ucbReplaySql: String = {
    // the inner derived tables keep the PREVIOUS round index t, so the
    // new round's exploration term ln(t_new − 1) is written ln(t) — no
    // lateral-alias shadowing of the t+1 rebind
    val scores =
      """list_transform(generate_series(1, 5), a ->
           floor((s[a] / CAST(n[a] AS DOUBLE)
                  + sqrt(2.0 * ln(CAST(t AS DOUBLE)) / CAST(n[a] AS DOUBLE)))
                 * 1e9 + 0.5) / 1e9)"""
    s"""WITH RECURSIVE cells AS (
         SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, event_type AS atype,
                CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS rm
         FROM events GROUP BY 1, 2),
       one AS (
         SELECT list(rm ORDER BY d, atype) AS r, count(*) // 5 AS nd
         FROM cells),
       it AS (
         SELECT r, nd, 5 AS t,
                list_transform(generate_series(1, 5), a -> CAST(1 AS BIGINT)) AS n,
                list_transform(generate_series(1, 5), a -> r[(a - 1) * 5 + a]) AS s
         FROM one
         UNION ALL
         SELECT r, nd, t + 1 AS t,
                list_transform(generate_series(1, 5),
                  a -> CASE WHEN a = p THEN n[a] + 1 ELSE n[a] END) AS n,
                list_transform(generate_series(1, 5),
                  a -> CASE WHEN a = p THEN s[a] + r[t * 5 + p] ELSE s[a] END) AS s
         FROM (
           SELECT r, nd, t, n, s, CAST(list_position(sc, list_max(sc)) AS BIGINT) AS p
           FROM (
             SELECT r, nd, t, n, s, $scores AS sc
             FROM it WHERE t < nd) t1) t2)
       SELECT ['click', 'error', 'purchase', 'signup', 'view'][a] AS arm,
              n[a] AS picks,
              ${q6Sql("s[a]")} AS total_reward,
              ${q6Sql("s[a] / CAST(n[a] AS DOUBLE)")} AS mean_reward,
              CAST(nd AS BIGINT) AS n_rounds
       FROM it, LATERAL (SELECT unnest(generate_series(1, 5)) AS a) la
       WHERE t = nd"""
  }
}
