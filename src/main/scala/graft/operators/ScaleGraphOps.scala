package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Determinism._
import graft.core.Tables
import graft.functions.TextFunctions._

/** Temporal/graph/sparse-vector block, split from [[ScaleOps]] (its
  * `queries`/`oracles` maps remain the public seam): SCD-2 intervals
  * (q102), TF-IDF sparse cosine pairs (q103), PageRank with per-round
  * persist barriers (q104) and HITS (q149). */
private[graft] trait ScaleGraphOps { this: ScaleOps.type =>

  /** Per-order part baskets over (l_orderkey, l_partkey), the shared
    * build of the co-purchase family (r14, guide §2.3 "shuffle keys,
    * not payloads"): one hash agg collapses lineitem to per-order part
    * SETS, shuffling |lineitem| keys once with map-side partial
    * aggregation. `collect_set` dedups within the order, so a
    * duplicated (order, part) row counts once, as under a global
    * distinct. Read out with [[basketPairs]]. */
  private[graft] def orderBaskets(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
  }

  /** Every ordered part pair (a, b) inside each basket, generated
    * IN-ROW (two Generates, no join), diagonal (a = b) included. Each
    * order yields each pair once, so a count per pair is the number of
    * orders containing both parts. Callers pick the half they need
    * (`=!=` for symmetric edges, `<` for canonical ones). Equality with
    * the self-join spelling (`a.l_orderkey = b.l_orderkey AND
    * a.l_partkey < b.l_partkey`, then distinct) is asserted in
    * ScaleOpsSpec. */
  private[graft] def basketPairs(baskets: DataFrame, a: String,
                                 b: String): DataFrame = {
    import org.apache.spark.sql.functions._
    baskets.select(explode(col("ps")).as(a), col("ps"))
      .select(col(a), explode(col("ps")).as(b))
  }

  /** Symmetric co-purchase edge list over (l_orderkey, l_partkey) —
    * both directions of every distinct same-order part pair — built
    * basket-packed ([[orderBaskets]] / [[basketPairs]]), then ONE
    * exchange on the caller's layout key lands the rows where the
    * iteration aggregates need them; dropDuplicates(src, dst) then runs
    * in place because hash(layout) already clusters equal (src, dst)
    * rows (the subset rule). Old spelling: self-join + distinct
    * exchange + union + repartition exchange (3 exchanges, join fan-out
    * shuffled twice). Edge SETS are identical (OPTIMIZATION_r14.md
    * "Batch 2" records the A/B; ScaleOpsSpec asserts it). */
  private[graft] def coPurchaseEdges(li: DataFrame, layout: String): DataFrame = {
    import org.apache.spark.sql.functions._
    basketPairs(orderBaskets(li), "src", "dst")
      .filter(col("src") =!= col("dst"))
      .repartition(col(layout))
      .dropDuplicates("src", "dst")
  }

  /** Broadcast an O(|V|)-row iteration-state frame ONLY when it is
    * provably small (guide §3.1: explicit broadcast when you KNOW the
    * side fits; never an unconditional hint). `n` is the exact row
    * count the caller already holds from the iteration barrier; ~32 B
    * per (node, value) row against the session broadcast threshold.
    * At sf0.1 (|V| ≈ 2·10⁴) this always fires — it removed BOTH
    * per-iteration exchanges of the rank join (measured: PageRank
    * iterations 2.0 s → 0.3 s each, bit-identical ranks, because AQE's
    * runtime SMJ→BHJ rewrite still pays the planned shuffles, while a
    * plan-time broadcast never shuffles either side). At 10¹⁰ nodes it
    * degrades to the plain shuffled join unchanged. */
  private[graft] def bcastIfSmall(df: DataFrame, n: Long): DataFrame = {
    val thr = try df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760").toLong
    catch { case _: NumberFormatException => 10485760L }
    if (thr > 0 && n >= 0 && n <= thr / 32)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  // ---------------------------------------------------------------- q102
  /** SCD-2 dimension build from an event-ordered fact: collapse each
    * customer's order-status observations into validity intervals
    * [valid_from, valid_to) with an is_current flag — the standard
    * slowly-changing-dimension type-2 construction (gaps-and-islands:
    * change flag → running island id → min/lead per island). At scale
    * this is two window passes and one hash agg, all partitioned by the
    * dimension key — one shuffle on o_custkey total, because Spark
    * reuses the (o_custkey)-hash exchange across the two windows and
    * the groupBy. Dialect-neutral: the SAME string is the Spark plan
    * and the DuckDB oracle. */
  def scd2Sql(table: String, sentinel: String): String = s"""
    WITH s AS (
      SELECT o_custkey, o_orderkey, o_orderdate AS ts, o_orderstatus AS status,
        lag(o_orderstatus) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS prev_status
      FROM $table),
    c AS (
      SELECT o_custkey, o_orderkey, ts, status,
        CASE WHEN prev_status IS NULL OR prev_status <> status
             THEN 1 ELSE 0 END AS chg
      FROM s),
    g AS (
      SELECT o_custkey, ts, status,
        sum(chg) OVER (PARTITION BY o_custkey ORDER BY ts, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM c),
    r AS (
      SELECT o_custkey, status, island,
        min(ts) AS valid_from, count(1) AS n_obs
      FROM g GROUP BY o_custkey, status, island)
    SELECT o_custkey, status, valid_from,
      coalesce(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island),
        $sentinel) AS valid_to,
      (lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
        IS NULL) AS is_current,
      n_obs
    FROM r
    ORDER BY o_custkey, island"""

  def scd2(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    // the fact table reads as TIMESTAMP_NTZ (nanos-safe load), so the
    // open-interval sentinel must be NTZ too; DuckDB's plain TIMESTAMP
    // is already time-zone-naive
    spark.sql(scd2Sql("orders", "TIMESTAMP_NTZ '9999-12-31 00:00:00'"))
  }

  // ---------------------------------------------------------------- q103
  /** Sparse TF-IDF cosine near-dup pairs via an inverted index — the
    * lexical mirror of q38's dense-embedding near-dup. Postings are
    * df-capped ([SparseDfMin, SparseDfCap]): rare-but-shared terms
    * drive the signal, stop-terms (whose posting lists would each
    * produce df² candidate pairs) are dropped, so the term self-join
    * is bounded by cap·Σdf — linear in the corpus, never O(n²).
    * Exactness: weights are decimal-bridged to a 1e-6 grid as int64
    * the moment they leave fp (`ln` of identical doubles — q73/q90
    * precedent); dot products and squared norms are then EXACT integer
    * arithmetic (decimal-widened products), so the only fp in the
    * output expression is one divide + two sqrt on identical integers. */
  private[operators] def sparseCosineSql(unnestDocs: String): String = s"""
    WITH uni AS ($unnestDocs),
    tf AS (SELECT doc_id, term, count(1) AS tf FROM uni GROUP BY doc_id, term),
    df AS (SELECT term, count(1) AS df FROM tf GROUP BY term
           HAVING count(1) BETWEEN $SparseDfMin AND $SparseDfCap),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM uni),
    w AS (
      SELECT tf.doc_id, tf.term,
        CAST(floor(CAST(tf AS DOUBLE) * ln(nd / CAST(df AS DOUBLE)) * 1e6 + 0.5)
          AS BIGINT) AS w6
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd),
    nrm AS (
      SELECT doc_id, CAST(sum(CAST(w6 AS DECIMAL(19,0)) * w6) AS DECIMAL(38,0)) AS s
      FROM w GROUP BY doc_id),
    dot AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(sum(CAST(a.w6 AS DECIMAL(19,0)) * b.w6) AS DECIMAL(38,0)) AS dp
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    cos AS (
      SELECT id_a, id_b,
        floor(CAST(dp AS DOUBLE) /
          (sqrt(CAST(na.s AS DOUBLE)) * sqrt(CAST(nb.s AS DOUBLE))) * 1e6 + 0.5)
          / 1e6 AS cos6
      FROM dot
      JOIN nrm na ON dot.id_a = na.doc_id
      JOIN nrm nb ON dot.id_b = nb.doc_id)
    SELECT id_a, id_b, cos6 FROM cos
    WHERE cos6 >= $SparseTau
    ORDER BY id_a, id_b"""

  /** Spark side splits [[sparseCosineSql]] at the weights table and
    * persists it: `w` feeds the norm agg AND both branches of the term
    * self-join, and Spark inlines multiply-referenced CTEs — without
    * the persist the explode+tf+df pipeline runs three times. Same
    * expressions, so the oracle hash is unchanged. */
  def sparseCosine(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    val w = spark.sql(s"""
      WITH uni AS (
        SELECT doc_id, explode(${wordsExpr("text")}) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(1) AS tf FROM uni GROUP BY doc_id, term),
      df AS (SELECT term, count(1) AS df FROM tf GROUP BY term
             HAVING count(1) BETWEEN $SparseDfMin AND $SparseDfCap),
      nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM uni)
      SELECT tf.doc_id, tf.term,
        CAST(floor(CAST(tf AS DOUBLE) * ln(nd / CAST(df AS DOUBLE)) * 1e6 + 0.5)
          AS BIGINT) AS w6
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd""")
      .transform(graft.core.EngineCache.persisted)
    w.createOrReplaceTempView("sparse_w")
    spark.sql(s"""
      WITH nrm AS (
        SELECT doc_id, CAST(sum(CAST(w6 AS DECIMAL(19,0)) * w6) AS DECIMAL(38,0)) AS s
        FROM sparse_w GROUP BY doc_id),
      dot AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(sum(CAST(a.w6 AS DECIMAL(19,0)) * b.w6) AS DECIMAL(38,0)) AS dp
        FROM sparse_w a JOIN sparse_w b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      cos AS (
        SELECT id_a, id_b,
          floor(CAST(dp AS DOUBLE) /
            (sqrt(CAST(na.s AS DOUBLE)) * sqrt(CAST(nb.s AS DOUBLE))) * 1e6 + 0.5)
            / 1e6 AS cos6
        FROM dot
        JOIN nrm na ON dot.id_a = na.doc_id
        JOIN nrm nb ON dot.id_b = nb.doc_id)
      SELECT id_a, id_b, cos6 FROM cos
      WHERE cos6 >= $SparseTau
      ORDER BY id_a, id_b""")
  }

  // ---------------------------------------------------------------- q104
  /** Fixed-iteration PageRank over the part co-purchase graph (two
    * parts are adjacent when they appear in the same order; edges
    * symmetrized, so there are no dangling nodes). Each iteration is
    * one edge⋈rank join + one hash agg — the canonical scale shape: the
    * edge list partitions by src once and every iteration reuses that
    * exchange; rank state is O(|V|), never materialized per-edge beyond
    * the shuffle. Exactness: per-edge contributions r/deg are
    * half-up-bridged to a 1e-12 grid as DECIMAL before the
    * order-nondeterministic sum, and each new rank is re-rounded onto
    * the grid, so every iteration starts from bit-identical state in
    * both engines. Dialect-neutral: one string, both engines. */
  def pageRankSql(table: String, iters: Int): String = {
    val d = PrDamping
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""c$i AS (
      SELECT e.dst AS node,
        CAST(floor($p.r / CAST($p.deg AS DOUBLE) * 1e12 + 0.5)
          AS DECIMAL(38,0)) AS c
      FROM e JOIN $p ON e.src = $p.node),
    s$i AS (SELECT node, sum(c) AS sc FROM c$i GROUP BY node),
    r$i AS (
      SELECT dg.node, dg.deg,
        floor((((1.0 - $d) / nd.nd) +
               $d * (CAST(coalesce(s$i.sc, 0) AS DOUBLE) / 1e12)) * 1e12 + 0.5)
          / 1e12 AS r
      FROM deg dg CROSS JOIN nd
      LEFT JOIN s$i ON dg.node = s$i.node)"""
    }.mkString(",\n    ")
    s"""
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM $table a JOIN $table b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src AS node, count(1) AS deg FROM e GROUP BY src),
    nd AS (SELECT CAST(count(1) AS DOUBLE) AS nd FROM deg),
    r0 AS (
      SELECT node, deg, floor(1e12 / nd.nd + 0.5) / 1e12 AS r
      FROM deg CROSS JOIN nd),
    $iterCtes
    SELECT node, ${droundSql("r", 9)} AS pagerank
    FROM r$iters
    ORDER BY node"""
  }

  /** Spark-side PageRank: same arithmetic as [[pageRankSql]] (the
    * oracle), but with the edge list and degree table persisted ONCE —
    * the unrolled-CTE form recomputes the distinct self-join every
    * iteration (Spark inlines CTEs), which is exactly the mistake a
    * 100 TB iteration cannot afford. `deg.count()` doubles as the
    * materialization action and the |V| the teleport term needs. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // r13 batch 3: cache the edges ALREADY hash-partitioned by dst.
    // Every iteration's only remaining exchange was the contribution
    // aggregate's hash(dst) shuffle (the rank side broadcasts, so the
    // BHJ preserves the streamed side's partitioning); with the cache
    // laid out on the aggregation key, groupBy(dst) is satisfied
    // in-stage and the per-iteration plan has ZERO exchanges
    // (guide §2.4 — one build-time exchange buys PrIters shuffle-free
    // rounds; the same layout a bucketed edge table gives a cluster).
    // r14: the build itself is basket-packed ([[coPurchaseEdges]]) —
    // same edge set, 3 build exchanges + a self-join down to 2 exchanges.
    val e = coPurchaseEdges(li, "dst")
      .transform(graft.core.EngineCache.persisted)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .transform(graft.core.EngineCache.persisted)
    val n = deg.count() // materializes both persists; |V| for teleport
    val d = PrDamping
    var r = deg.select(col("node"), col("deg"),
      expr(s"floor(1e12 / CAST($n AS DOUBLE) + 0.5) / 1e12").as("r"))
    for (i <- 1 to PrIters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(col("dst").as("node"),
          expr("CAST(floor(r / CAST(deg AS DOUBLE) * 1e12 + 0.5) " +
            "AS DECIMAL(38,0))").as("c"))
      // sums is ≤ |V| rows (= n, already a driver scalar): broadcast it
      // when provably small so the per-iteration join shuffles NOTHING
      // (bcastIfSmall — plain shuffled left join above the threshold)
      val sums = bcastIfSmall(
        contrib.groupBy("node").agg(sum("c").as("sc")), n)
      r = deg.join(sums, Seq("node"), "left")
        .select(col("node"), col("deg"),
          expr(s"floor((((1.0 - $d) / CAST($n AS DOUBLE)) + " +
            s"$d * (CAST(coalesce(sc, 0) AS DOUBLE) / 1e12)) * 1e12 + 0.5) " +
            "/ 1e12").as("r"))
      // q149's barrier discipline: persist + materialize each round so
      // the execution is five short independent jobs over cached state
      // instead of one 12-stage DAG — the lazily-chained form ran ~2×
      // slower deep in a long-lived session (accumulated listener/GC
      // pressure stretches long DAGs first) with rare far-worse spikes
      if (i < PrIters) {
        r = r.transform(graft.core.EngineCache.persisted)
        r.count()
      }
    }
    r.select(col("node"), dround(col("r"), 9).as("pagerank")).orderBy("node")
  }

  // ---------------------------------------------------------------- q277
  /** PERSONALIZED PageRank over the same co-purchase graph — the
    * related-items serving variant of q104 (Haveliwala 2002; the
    * Pinterest/Twitter recommendation shape): the teleport mass lands
    * ONLY on a seed set (parts ≡ 0 mod [[PprSeedMod]] — a user's cart
    * standing in), so scores measure proximity TO THE SEEDS rather
    * than global centrality, and the top of the ranking is the
    * recommendation list. Same scale shape as q104 — the edge list
    * partitions once and every iteration is one edge⋈rank join + one
    * hash agg — and the same exactness: per-edge contributions bridge
    * to a 1e-12 grid as DECIMAL before the order-nondeterministic sum,
    * every iteration re-rounds onto the grid, so both engines iterate
    * bit-identical state. An empty seed set fails LOUDLY (the q250
    * vocabulary-guard lesson) rather than dividing into NaN. Oracle:
    * the same iteration unrolled as chained CTEs, dialect-neutral. */
  val PprSeedMod = 20

  def pprSql(table: String, iters: Int): String = {
    val d = PrDamping
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""c$i AS (
      SELECT e.dst AS node,
        CAST(floor($p.r / CAST($p.deg AS DOUBLE) * 1e12 + 0.5)
          AS DECIMAL(38,0)) AS c
      FROM e JOIN $p ON e.src = $p.node),
    s$i AS (SELECT node, sum(c) AS sc FROM c$i GROUP BY node),
    r$i AS (
      SELECT dg.node, dg.deg, dg.in_s,
        floor((((1.0 - $d) * dg.in_s / ns.ns) +
               $d * (CAST(coalesce(s$i.sc, 0) AS DOUBLE) / 1e12)) * 1e12 + 0.5)
          / 1e12 AS r
      FROM deg dg CROSS JOIN ns
      LEFT JOIN s$i ON dg.node = s$i.node)"""
    }.mkString(",\n    ")
    s"""
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM $table a JOIN $table b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (
      SELECT src AS node, count(1) AS deg,
        CASE WHEN src % $PprSeedMod = 0 THEN 1 ELSE 0 END AS in_s
      FROM e GROUP BY src),
    ns AS (SELECT CAST(sum(in_s) AS DOUBLE) AS ns FROM deg),
    r0 AS (
      SELECT node, deg, in_s,
        floor(in_s * 1e12 / ns.ns + 0.5) / 1e12 AS r
      FROM deg CROSS JOIN ns),
    $iterCtes
    SELECT node, ${droundSql("r", 9)} AS ppr
    FROM r$iters
    ORDER BY node"""
  }

  /** Spark-side PPR: q104's persisted-edge iteration with the seeded
    * teleport; the loud empty-seed guard runs before any iteration. */
  def ppr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // q104's dst-layout cache: the per-iteration contribution aggregate
    // keys on dst, so the pre-hashed cache makes every round exchange-free
    // (r14: built basket-packed, see [[coPurchaseEdges]])
    val e = coPurchaseEdges(li, "dst")
      .transform(graft.core.EngineCache.persisted)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .withColumn("in_s",
        when(col("node") % PprSeedMod === 0, 1).otherwise(0))
      .transform(graft.core.EngineCache.persisted)
    val ns = deg.agg(sum("in_s")).head.getLong(0)
    require(ns > 0,
      s"personalized PageRank needs a non-empty seed set " +
        s"(no node ≡ 0 mod $PprSeedMod in the graph)")
    val n = deg.count() // |V| off the cached frame — gates bcastIfSmall
    val d = PrDamping
    var r = deg.select(col("node"), col("deg"), col("in_s"),
      expr(s"floor(in_s * 1e12 / CAST($ns AS DOUBLE) + 0.5) / 1e12").as("r"))
    for (i <- 1 to PrIters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(col("dst").as("node"),
          expr("CAST(floor(r / CAST(deg AS DOUBLE) * 1e12 + 0.5) " +
            "AS DECIMAL(38,0))").as("c"))
      // q104's guarded broadcast: ≤ |V| rows, zero-shuffle join when small
      val sums = bcastIfSmall(
        contrib.groupBy("node").agg(sum("c").as("sc")), n)
      r = deg.join(sums, Seq("node"), "left")
        .select(col("node"), col("deg"), col("in_s"),
          expr(s"floor((((1.0 - $d) * in_s / CAST($ns AS DOUBLE)) + " +
            s"$d * (CAST(coalesce(sc, 0) AS DOUBLE) / 1e12)) * 1e12 + 0.5) " +
            "/ 1e12").as("r"))
      if (i < PrIters) {
        r = r.transform(graft.core.EngineCache.persisted)
        r.count()
      }
    }
    r.select(col("node"), dround(col("r"), 9).as("ppr")).orderBy("node")
  }

  // ---------------------------------------------------------------- q149
  /** HITS hubs & authorities over the bipartite customer→part purchase
    * graph (edges = distinct (o_custkey, l_partkey) via orders⋈lineitem)
    * — the classic mutual-reinforcement ranking: a part is authoritative
    * when influential customers buy it; a customer is a hub when they
    * buy authoritative parts. [[HitsIters]] fixed alternations of
    * h = Σ a(out-neighbors), a = Σ h(in-neighbors), each half-step
    * max-normalized. Cross-engine determinism mirrors q104: scores live
    * on a 1e12 grid, per-edge contributions are floor-bridged to
    * DECIMAL(38,0) before the order-nondeterministic sum, and the
    * normalizing division casts the same exact integers to double in
    * both engines. Scale shape: the edge list is built and persisted
    * ONCE (the oracle's unrolled CTEs re-derive it per reference —
    * exactly what a 100 TB iteration cannot afford); each half-step is
    * one edge⋈score join + hash agg keyed on the score side, and the
    * 1-row max broadcasts. State is O(|V|) per step. */
  val HitsIters = 3
  private[operators] val hitsNormSql =
    "floor(CAST(sc AS DOUBLE) / CAST(mx AS DOUBLE) * 1e12 + 0.5) / 1e12"
  def hits(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // r13 batch 4: TWO cached layouts of the bipartite edge list, one
    // per half-step aggregation key. HITS alternates "agg by cust"
    // (hub half, joins on part) and "agg by part" (authority half,
    // joins on cust); a single cache can satisfy at most one of those
    // groupings, so the other half paid a full edge exchange every
    // iteration (2·HitsIters aggregate shuffles). With the score side
    // broadcast (plan-verified BHJ) and each half streaming the cache
    // laid out on ITS aggregation key, every half-step runs
    // single-stage (guide §2.4 — the same "bucketed table per join
    // key" trade a warehouse makes; cost: one extra cached copy and
    // one build-time exchange). byPart derives FROM the byCust cache,
    // so the orders⋈lineitem distinct still runs exactly once.
    // r14: repartition FIRST, dedup in place — hash(cust) clusters equal
    // (cust, part) rows (subset rule), so the old distinct's own
    // exchange was redundant with the layout exchange (2 edge
    // exchanges → 1; same rows, measured set-identical).
    val eByCust = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .repartition(col("cust"))
      .dropDuplicates("cust", "part")
      .transform(graft.core.EngineCache.persisted)
    val eByPart = eByCust
      .repartition(col("part"))
      .transform(graft.core.EngineCache.persisted)
    // Each half-step PERSISTS its raw-sum frame and collects the 1-scalar
    // max on the driver (DistributedRank's counts-collect idiom). The
    // tempting alternative — crossJoin(broadcast(raw.agg(max))) — embeds
    // the frame in its own plan TWICE (max subquery + main), doubling the
    // unpersisted lineage per half-step: 2^(2·iters) re-expansions, which
    // is exactly the CTE-inlining blowup the PQ codebook build hit
    // (observed: 3-iteration HITS > 60 s at sf0.1; with the barrier it is
    // one join + one agg per half-step). BigDecimal.doubleValue is the
    // same round-to-nearest as the oracle's CAST(mx AS DOUBLE).
    // The score sides are O(|V|) rows and join under the q104
    // bcastIfSmall guard: a PLAN-TIME broadcast never shuffles either
    // side, where the old reliance on AQE's runtime SMJ→BHJ rewrite
    // still paid the planned exchanges (49 SortMergeJoin mentions in
    // the round-start plan, all AQE-rewritten at runtime but each with
    // its exchange pair already materialized). Row counts come free:
    // |parts| from the init distinct, |custs|/|parts| thereafter from
    // the SAME 1-row aggregate that collects each half-step's max.
    var a = eByPart.select(col("part")).distinct().withColumn("a", lit(1.0))
    var aN = a.count() // |parts| — in-stage distinct over the part cache
    var h: DataFrame = a // placeholder; assigned in round 1
    var hN = 0L
    def normalized(raw: DataFrame, key: String,
                   out: String): (DataFrame, Long) = {
      val r0 = raw.agg(max(col("sc")), count(lit(1))).head
      val mx = r0.getDecimal(0).doubleValue
      (raw.select(col(key),
        (floor(col("sc").cast("double") / lit(mx) * lit(1e12) + lit(0.5)) /
          lit(1e12)).as(out)), r0.getLong(1))
    }
    for (_ <- 1 to HitsIters) {
      val hraw = eByCust.join(bcastIfSmall(a, aN), "part").groupBy("cust")
        .agg(expr("sum(CAST(floor(a * 1e12 + 0.5) AS DECIMAL(38,0)))").as("sc"))
        .transform(graft.core.EngineCache.persisted)
      val (h1, hN1) = normalized(hraw, "cust", "h")
      h = h1; hN = hN1
      val araw = eByPart.join(bcastIfSmall(h, hN), "cust").groupBy("part")
        .agg(expr("sum(CAST(floor(h * 1e12 + 0.5) AS DECIMAL(38,0)))").as("sc"))
        .transform(graft.core.EngineCache.persisted)
      val (a1, aN1) = normalized(araw, "part", "a")
      a = a1; aN = aN1
    }
    h.select(lit("customer").as("node_type"), col("cust").as("node_id"),
        dround(col("h"), 9).as("score"))
      .unionByName(a.select(lit("part").as("node_type"),
        col("part").as("node_id"), dround(col("a"), 9).as("score")))
      .orderBy("node_type", "node_id")
  }

  def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""hs$i AS (
      SELECT e.cust, sum(CAST(floor(a${i - 1}.a * 1e12 + 0.5)
        AS DECIMAL(38,0))) AS sc
      FROM e JOIN a${i - 1} ON e.part = a${i - 1}.part GROUP BY e.cust),
    hm$i AS (SELECT max(sc) AS mx FROM hs$i),
    h$i AS (SELECT cust, $hitsNormSql AS h FROM hs$i CROSS JOIN hm$i),
    as$i AS (
      SELECT e.part, sum(CAST(floor(h$i.h * 1e12 + 0.5)
        AS DECIMAL(38,0))) AS sc
      FROM e JOIN h$i ON e.cust = h$i.cust GROUP BY e.part),
    am$i AS (SELECT max(sc) AS mx FROM as$i),
    a$i AS (SELECT part, $hitsNormSql AS a FROM as$i CROSS JOIN am$i)"""
    }.mkString(",\n    ")
    s"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    a0 AS (SELECT DISTINCT part, 1.0 AS a FROM e),
    $rounds
    SELECT 'customer' AS node_type, cust AS node_id,
      ${droundSql("h", 9)} AS score FROM h$iters
    UNION ALL
    SELECT 'part' AS node_type, part AS node_id,
      ${droundSql("a", 9)} AS score FROM a$iters
    ORDER BY node_type, node_id"""
  }

  // ---------------------------------------------------------------- q213
  /** Community detection by SYNCHRONOUS label propagation (Raghavan
    * et al. 2007) over the q104 co-purchase part graph: every node
    * starts as its own community, then for [[LpIters]] rounds each
    * node adopts the most frequent label among its neighbors, ties
    * broken by the smallest label. The async/randomized variant the
    * paper runs is not reproducible across engines; the synchronous
    * sweep with a total tie order is bit-deterministic (pure integer
    * counts — no fp anywhere), which is what makes it oracle-gateable
    * AND restart-safe at scale: re-running a round can never produce
    * a different labeling. Output: each node's community plus the
    * community's size.
    *
    * Scale shape: one round = edge⋈label join (shuffle keyed on the
    * O(|V|) label side; the persisted edge list reuses its exchange)
    * + a (node, lab) hash count + a per-node top-1 window whose state
    * is one node's distinct neighbor labels. Labels are O(|V|) rows
    * forever; rounds are barriered with persists exactly like q104 —
    * the unrolled-CTE oracle re-derives the edge list per round,
    * which is the plan a 100 TB run cannot afford and the reason the
    * Spark side loops over cached state instead. */
  val LpIters = 4

  /** The shared LP CTE body (edges + iter rounds) — one spelling for
    * the q213 oracle and the q217 modularity oracle built on top. */
  private def lpCtes(table: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""ct$i AS (
      SELECT e.src AS node, l.lab, count(1) AS c
      FROM e JOIN l${i - 1} l ON e.dst = l.node
      GROUP BY e.src, l.lab),
    l$i AS (
      SELECT node, lab FROM (
        SELECT node, lab,
          row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM ct$i) z
      WHERE rn = 1)"""
    }.mkString(",\n    ")
    s"""e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM $table a JOIN $table b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
    $rounds"""
  }

  def labelPropSql(table: String, iters: Int): String = s"""
    WITH ${lpCtes(table, iters)}
    SELECT node, lab AS community,
      CAST(count(1) OVER (PARTITION BY lab) AS BIGINT) AS comm_size
    FROM l$iters
    ORDER BY node"""

  /** Spark-side mirror of [[labelPropSql]]: identical arithmetic, but
    * the edge list persists ONCE and each round barriers on cached
    * state (q104's discipline) instead of re-deriving the self-join. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    labelPropOf(Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")))
  }

  /** The shared LP engine core: persisted symmetric edge list + the
    * final (node, lab) frame after [[LpIters]] barriered rounds.
    *
    * r13 optimizations (both bit-equal, cross-checked label-for-label
    * at sf0.1):
    *  - the edge list is NO LONGER pre-hashed by dst: the per-round
    *    label join broadcasts its O(|V|) side (plan-verified BHJ), so
    *    the cached edges are never shuffled per round and the old
    *    `repartition(dst)` was one full 2|E|-row exchange bought for
    *    nothing (guide §2.4 — measured 2.76 s → 2.03 s on the build);
    *  - the per-node top-1 prefers an ENCODED-LONG max over the
    *    max-struct spelling: `c·B − lab` (B = the first power of two
    *    above the largest node id) orders exactly like (c DESC, lab
    *    ASC), and a LONG max runs as a map-side-combinable
    *    HashAggregate where a struct buffer forces SortAggregate +
    *    extra Sort (measured ~0.3-0.9 s/round at sf0.1; labels decode
    *    with pure integer `div` arithmetic, no double rounding). The
    *    encoding is GUARDED by the ids actually seen: it applies only
    *    when ids are non-negative and c·B cannot overflow int64
    *    (c ≤ |E|); otherwise the struct spelling runs unchanged —
    *    so arbitrary-id graphs stay correct. */
  private def lpCore(li: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    // r13 batch 3: the r13 batch-1 change dropped the old dst-keyed
    // pre-hash because the per-round JOIN broadcasts its label side —
    // but the round's two aggregations (count by (node=src, lab), then
    // top-1 by node) still each paid a hash exchange. Caching the edges
    // partitioned by SRC (the aggregation key, not the join key) lets
    // the BHJ preserve that layout, so BOTH per-round aggregates are
    // satisfied in-stage: a round's plan has zero exchanges
    // (guide §2.4; same move as q104's dst-layout cache).
    // r14: built basket-packed, see [[coPurchaseEdges]].
    val e = coPurchaseEdges(li, "src")
      .transform(graft.core.EngineCache.persisted)
    // one pass over the cached edges: id range (gates the encoded top-1)
    // + |E| (its overflow bound) — doubles as the edge materialization
    // barrier the old spelling paid the first round's join for
    val idStats = e.agg(
      min(least(col("src"), col("dst"))).as("mn"),
      max(greatest(col("src"), col("dst"))).as("mx"),
      count(lit(1)).as("m")).head
    val (encodedOk, encB) =
      if (idStats.isNullAt(0) || idStats.isNullAt(1)) (false, 0L)
      else {
        val mn = idStats.getAs[Number](0).longValue
        val mx = idStats.getAs[Number](1).longValue
        val m = idStats.getLong(2)
        val b = java.lang.Long.highestOneBit(math.max(mx, 1L)) * 2
        (mn >= 0 && b > 0 && m + 1 <= Long.MaxValue / b, b)
      }
    var lab = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (i <- 1 to LpIters) {
      val cnt = e.join(lab, e("dst") === lab("node"))
        .groupBy(e("src").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
      // top-1 = highest count, then LOWEST label — bit-identical to the
      // oracle's (c DESC, lab) row_number pick in both spellings
      lab =
        if (encodedOk) {
          // decode back to the label column's own dtype so the encoded
          // path is schema-invisible (spec frames may carry int ids)
          val labT = cnt.schema("lab").dataType.sql
          cnt.groupBy("node")
            .agg(max(col("c") * lit(encB) - col("lab")).as("enc"))
            .select(col("node"), expr(
              s"CAST(((enc + ${encB - 1}) div $encB) * $encB - enc " +
                s"AS $labT)").as("lab"))
        }
        else
          cnt.groupBy("node")
            .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
            .select(col("node"), (-col("m.nl")).as("lab"))
      if (i < LpIters) {
        lab = lab.transform(graft.core.EngineCache.persisted)
        lab.count() // q104's per-round materialization barrier
      }
    }
    (e, lab)
  }

  /** Core of q213 over any (l_orderkey, l_partkey) basket frame. */
  private[graft] def labelPropOf(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val (_, lab) = lpCore(li)
    lab.select(col("node"), col("lab").as("community"),
        count(lit(1)).over(Window.partitionBy("lab"))
          .cast("long").as("comm_size"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q217
  /** Newman MODULARITY of the q213 labeling — the quality gauge for
    * the community structure, exactly as q209's silhouette gauges the
    * vector cells: per community, Q_c = W_c/M − (d_c/M)², where M is
    * the directed (symmetrized) edge count, W_c the intra-community
    * directed edges, d_c the community's degree sum; Σ Q_c is Newman's
    * Q. Everything is INTEGER counts until the final two divisions on
    * identical doubles, bridged to a 1e-9 grid — bit-stable across
    * engines and aggregation orders.
    *
    * Scale: reuses the persisted LP edge list and final labels; the
    * additions are two broadcast-shaped label joins (labels are O(|V|))
    * + three hash aggs to O(|communities|) rows. The oracle replays
    * the unrolled LP and the same counts. */
  def lpModularity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    lpModularityOf(Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")))
  }

  private[graft] def lpModularityOf(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val (e, lab0) = lpCore(li)
    val lab = lab0.transform(graft.core.EngineCache.persisted)
    val m = e.count().toDouble // materializes e; M = directed edge count
    // r13: d_c and W_c fold into ONE pass over the edges — the old
    // spelling joined e⋈labels twice (once for dc, once more with both
    // endpoints for wc) and ran two aggregations; both numbers read off
    // the same doubly-labeled edge row (d = all edges per la, w = the
    // la = lb subset), so one join pair + one hash agg computes both
    // (guide §1.2 "don't compute things twice"). Labels are O(|V|) and
    // already materialized — nV gates the zero-shuffle broadcast.
    val nV = lab.count()
    val la = bcastIfSmall(lab.toDF("na", "la"), nV)
    val lb = bcastIfSmall(lab.toDF("nb", "lb"), nV)
    val dwc = e.join(la, e("src") === col("na"))
      .join(lb, e("dst") === col("nb"))
      .groupBy(col("la").as("lab"))
      .agg(count(lit(1)).as("d"),
        count(when(col("la") === col("lb"), 1)).as("w"))
    val nn = lab.groupBy("lab").agg(count(lit(1)).as("n_nodes"))
    nn.join(dwc, "lab")
      .select(col("lab").as("community"),
        col("n_nodes").cast("long").as("n_nodes"),
        coalesce(col("w"), lit(0L)).cast("long").as("intra_deg"),
        col("d").cast("long").as("deg_sum"),
        expr(s"floor((CAST(coalesce(w, 0) AS DOUBLE) / CAST($m AS DOUBLE) - " +
          s"(CAST(d AS DOUBLE) / CAST($m AS DOUBLE)) * " +
          s"(CAST(d AS DOUBLE) / CAST($m AS DOUBLE))) * 1e9 + 0.5) / 1e9")
          .as("contrib"))
      .orderBy("community")
  }

  def lpModularitySql(table: String, iters: Int): String = s"""
    WITH ${lpCtes(table, iters)},
    lab AS (SELECT node, lab FROM l$iters),
    mm AS (SELECT CAST(count(1) AS DOUBLE) AS m FROM e),
    dc AS (SELECT l.lab, count(1) AS d FROM e JOIN lab l ON e.src = l.node
           GROUP BY l.lab),
    wc AS (SELECT la.lab, count(1) AS w FROM e
           JOIN lab la ON e.src = la.node
           JOIN lab lb ON e.dst = lb.node
           WHERE la.lab = lb.lab GROUP BY la.lab),
    nn AS (SELECT lab, count(1) AS n_nodes FROM lab GROUP BY lab)
    SELECT nn.lab AS community, CAST(nn.n_nodes AS BIGINT) AS n_nodes,
      CAST(coalesce(wc.w, 0) AS BIGINT) AS intra_deg,
      CAST(dc.d AS BIGINT) AS deg_sum,
      floor((CAST(coalesce(wc.w, 0) AS DOUBLE) / mm.m -
        (CAST(dc.d AS DOUBLE) / mm.m) * (CAST(dc.d AS DOUBLE) / mm.m))
        * 1e9 + 0.5) / 1e9 AS contrib
    FROM nn JOIN dc ON nn.lab = dc.lab
    LEFT JOIN wc ON nn.lab = wc.lab
    CROSS JOIN mm
    ORDER BY community"""

}
