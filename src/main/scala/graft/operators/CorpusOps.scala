package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Determinism._
import graft.core.Tables
import graft.functions.TextFunctions._
import graft.llm.{Dedup, Similarity}

/** Round-4 operator surface: fuzzy (edit-distance) joins, snapshot
  * diffing, weighted sampling, entropy/diversity signals, exact
  * distribution-shape aggregates, BM25 retrieval, numeric histograms,
  * and end-to-end semantic dedup. Same contract as every other query
  * group: one `queries` entry + one DuckDB oracle per operator, shared
  * constants so plan and oracle cannot drift.
  */
object CorpusOps {

  // Shared tuning constants (Spark plan ⟷ oracle SQL)
  val FuzzyWidth = 32        // fixed-width prefix key for edit-distance dedup
  val FuzzyMaxEdits = 3
  val SampleN = 100          // priority-sample size
  val HistBins = 20
  val Bm25K1 = "1.2"         // spelled as literals so both engines parse
  val Bm25B = "0.75"         //   the exact same fp constants
  val Bm25TopK = 10
  val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "bq1" -> Seq("spark", "hash", "table"),
    "bq2" -> Seq("window", "sort", "merge"),
    "bq3" -> Seq("batch", "line", "value"))

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  // ---------------------------------------------------------------- q85
  /** Edit-distance near-dup pairs over padded 32-char prefixes —
    * [[graft.llm.Dedup.editDistancePairs]] (PassJoin segment blocking,
    * guaranteed recall). The oracle is the UNBLOCKED all-pairs ground
    * truth, so a hash match proves recall, not just agreement. */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(docs(spark, dir), "doc_id", "text",
      FuzzyWidth, FuzzyMaxEdits)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q86
  /** Generic snapshot diff: full-outer join two keyed frames on `key`,
    * classify each key as added / removed / changed by comparing a
    * row-checksum column `vh` (at 100 TB you diff checksums, never
    * columns — one shuffle on the key, no wide compare). Emits only the
    * changed surface (unchanged rows are the overwhelming majority and
    * the uninteresting one). */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.alias("a").join(b.alias("b"),
        col(s"a.$key") === col(s"b.$key"), "full_outer")
      .select(coalesce(col(s"a.$key"), col(s"b.$key")).as(key),
        when(col(s"a.$key").isNull, "added")
          .when(col(s"b.$key").isNull, "removed")
          .when(col("a.vh") =!= col("b.vh"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")

  /** q86 fixture: two customer-table "snapshots" derived deterministically
    * (keys ≡7 mod 10 arrive, ≡5 leave, ≡3 change balance), diffed via
    * [[snapshotDiff]] on an xhash row checksum. */
  def customerSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    def vh(balExpr: String): Column =
      xhash(concat_ws("|", col("c_name"), col("c_nationkey"), expr(balExpr)))
    val a = c.filter(expr("c_custkey % 10 <> 7"))
      .select(col("c_custkey"),
        vh("CAST(round(c_acctbal * 100) AS BIGINT)").as("vh"))
    val b = c.filter(expr("c_custkey % 10 <> 5"))
      .select(col("c_custkey"),
        vh("CAST(round(c_acctbal * 100) AS BIGINT) + " +
          "CASE WHEN c_custkey % 10 = 3 THEN 10000 ELSE 0 END").as("vh"))
    snapshotDiff(a, b, "c_custkey").orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q87
  /** Priority sampling (Duffield/Lund/Thorup): weight-proportional
    * sampling with a DETERMINISTIC priority key hash(id)/weight — no
    * RNG, reproducible on any partitioning, and the global smallest-N is
    * a TakeOrderedAndProject (per-partition partial top-N, no full
    * sort/shuffle of the corpus). Transcendental-free: the key is one
    * IEEE division of a 60-bit hash by the integer weight, bit-identical
    * in any engine. Heavier docs (more tokens) are proportionally more
    * likely to be kept — the standard corpus-subsampling step when
    * token budget, not doc count, is the constraint. */
  def prioritySample(d: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    d.select(col(idCol), tokenCount(textCol).cast("long").as("w"))
      .withColumn("pri",
        xhash(concat(lit("ps:"), col(idCol).cast("string"))).cast("double") /
          col("w").cast("double"))
      .orderBy(col("pri"), col(idCol)).limit(n)

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    prioritySample(docs(spark, dir), "doc_id", "text", SampleN)

  // ---------------------------------------------------------------- q88
  /** Per-document word-distribution signals: Shannon entropy (bits) and
    * Gini–Simpson diversity — low-entropy docs are boilerplate/spam, the
    * complement of q56's repetition ratios. One explode + two hash aggs
    * (map-side combine), no window, no self-join — scales as a single
    * corpus pass. Exactness: counts are integers; Σ c·ln(c) is bridged
    * through half-up-rounded 1e-8-grid decimals (order-independent sum;
    * `ln` of integer args is bitwise-equal across engines — verified for
    * 1..2000); Gini–Simpson is pure integer arithmetic until one final
    * division. */
  def wordEntropy(d: DataFrame, idCol: String, textCol: String): DataFrame = {
    val uc = d.select(col(idCol), explode(words(textCol)).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    uc.groupBy(col(idCol)).agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("s2"),
        sum(expr("CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e8 + 0.5) AS DECIMAL(30,0))"))
          .as("s8"))
      .select(col(idCol), col("n_words"), col("n_distinct"),
        dround(expr("(ln(CAST(n_words AS DOUBLE)) - " +
          "(CAST(s8 AS DOUBLE) / 1e8) / CAST(n_words AS DOUBLE)) / ln(2.0D)"), 6)
          .as("entropy_bits"),
        dround(expr("1.0D - CAST(s2 AS DOUBLE) / " +
          "(CAST(n_words AS DOUBLE) * CAST(n_words AS DOUBLE))"), 6)
          .as("gini_simpson"))
  }

  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    wordEntropy(docs(spark, dir), "doc_id", "text").orderBy("doc_id")

  // ---------------------------------------------------------------- q89
  /** Distribution-shape aggregate: mode (tie → smallest value), skewness
    * and excess kurtosis per group — entirely from a (group, value)
    * histogram. The histogram is one codegen'd hash agg; power sums
    * S1..S4 are EXACT int64 arithmetic on (value, count) rows (value ≤
    * 50 ⇒ S4 ≤ 50⁴·n, inside int64 up to ~10¹² rows), so the moment
    * formulas run once per group on identical doubles — no fp
    * accumulation, no sort-agg, deterministic mode via (count DESC,
    * value) ranking. The SQL is dialect-neutral: the SAME string is the
    * Spark plan and the DuckDB oracle. */
  def distShapeSql(table: String): String = {
    val mu = "(d1 / nd)"
    val v = s"(d2 / nd - $mu * $mu)"
    s"""
    WITH h AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, count(1) AS cnt
      FROM $table GROUP BY l_returnflag, q),
    m AS (
      SELECT l_returnflag, q AS mode_qty,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, q) AS rn
      FROM h),
    s AS (
      SELECT l_returnflag,
        CAST(sum(cnt) AS BIGINT) AS n,
        CAST(sum(q * cnt) AS BIGINT) AS s1,
        CAST(sum(q * q * cnt) AS BIGINT) AS s2,
        CAST(sum(q * q * q * cnt) AS BIGINT) AS s3,
        CAST(sum(q * q * q * q * cnt) AS BIGINT) AS s4
      FROM h GROUP BY l_returnflag),
    f AS (
      SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
        CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
      FROM s)
    SELECT f.l_returnflag, n, m.mode_qty,
      ${droundSql(s"(d3 / nd - 3.0 * $mu * (d2 / nd) + 2.0 * $mu * $mu * $mu)" +
        s" / (sqrt($v) * $v)", 6)} AS skewness,
      ${droundSql(s"(d4 / nd - 4.0 * $mu * (d3 / nd) + 6.0 * $mu * $mu * (d2 / nd)" +
        s" - 3.0 * $mu * $mu * $mu * $mu) / ($v * $v) - 3.0", 6)} AS ex_kurtosis
    FROM f JOIN m ON f.l_returnflag = m.l_returnflag AND m.rn = 1
    ORDER BY f.l_returnflag"""
  }

  def distShape(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(distShapeSql("lineitem"))
  }

  // ---------------------------------------------------------------- q90
  /** Shared BM25 term-contribution formula — the fp-critical core,
    * spelled ONCE and embedded verbatim in both engines' SQL. Aliases:
    * tfd/dfd/dld/ndd/avgdl are DOUBLE columns in scope at the call site.
    * Contributions are half-up rounded on a 1e-6 grid and summed as
    * exact decimals (order-independent); ranking uses the rounded score
    * with doc-id tiebreak, so near-ties cannot flip across engines. */
  private def bm25ContribSql: String = {
    val idf = "ln(1.0 + (ndd - dfd + 0.5) / (dfd + 0.5))"
    s"CAST(floor(($idf * (tfd * ($Bm25K1 + 1.0)) / " +
      s"(tfd + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dld / avgdl))) * 1e6 + 0.5) " +
      "AS DECIMAL(30,0))"
  }

  private def bm25ValuesSql: String =
    Bm25Queries.flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }
      .mkString(", ")

  /** BM25 top-k retrieval over the corpus for a literal query batch:
    * tf/df/dl from one exploded-terms pass (terms pre-filtered to the
    * query vocabulary — the scan never materializes the full posting
    * list), corpus stats broadcast, per-query top-k by windowed rank.
    * At scale: the term join is a broadcast (query vocab is tiny), the
    * only shuffle keys are (query, doc), and top-k per query is a
    * k-bounded window over docs that matched ≥1 term. The hits and
    * per-doc-length frames are persisted because tf+df resp. contrib+st
    * both consume them — Spark inlines shared lineage, so without the
    * persist the explode join and the token-count scan each run twice. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH qt AS (SELECT * FROM VALUES $bm25ValuesSql AS t(query_id, term)),
      uni AS (
        SELECT doc_id, explode(${wordsExpr("text")}) AS term FROM documents)
      SELECT /*+ BROADCAST(qt) */ u.doc_id, u.term, qt.query_id
      FROM uni u JOIN qt ON u.term = qt.term""")
      .transform(graft.core.EngineCache.persisted).createOrReplaceTempView("bm25_hits")
    spark.sql(s"""
      SELECT doc_id, CAST(${tokenCountExprSql} AS BIGINT) AS dl
      FROM documents""")
      .transform(graft.core.EngineCache.persisted).createOrReplaceTempView("bm25_dl")
    spark.sql(s"""
      WITH tf AS (SELECT query_id, doc_id, term, count(1) AS tf
             FROM bm25_hits GROUP BY query_id, doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df
             FROM bm25_hits GROUP BY term),
      dl AS (SELECT doc_id, dl FROM bm25_dl),
      st AS (SELECT count(1) AS n_docs, sum(dl) AS sum_dl FROM bm25_dl),
      contrib AS (
        SELECT query_id, tf.doc_id, $bm25ContribSql AS c6
        FROM (SELECT query_id, doc_id, term, CAST(tf AS DOUBLE) AS tfd FROM tf) tf
        JOIN (SELECT term, CAST(df AS DOUBLE) AS dfd FROM df) df ON tf.term = df.term
        JOIN (SELECT doc_id, CAST(dl AS DOUBLE) AS dld FROM dl) dl ON tf.doc_id = dl.doc_id
        CROSS JOIN (SELECT CAST(n_docs AS DOUBLE) AS ndd,
                      CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st)),
      sc AS (SELECT query_id, doc_id, CAST(sum(c6) AS DOUBLE) / 1e6 AS score
             FROM contrib GROUP BY query_id, doc_id)
      SELECT query_id, rk, doc_id, score FROM (
        SELECT query_id, doc_id, score,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS INT) AS rk
        FROM sc)
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""")
  }

  /** Spark-dialect token count as a raw SQL fragment (matches
    * [[graft.functions.TextFunctions.tokenCount]]). */
  private def tokenCountExprSql: String = s"size(${wordsExpr("text")})"

  // ---------------------------------------------------------------- q187
  /** Ranking-quality audit for the retrieval stack: nDCG@k of q90's
    * BM25 ordering against a graded TERM-COVERAGE relevance — rel(q,d)
    * = distinct query terms present in d (0..|q|), the deterministic
    * relevance both engines can derive from the corpus alone. This is
    * q169's discipline (score the approximate path against its own
    * exact metric) applied to the text leg: BM25 ranks by tf/idf-
    * weighted evidence, the audit asks how well that order agrees with
    * plain coverage, per query. Gains are integer (2^rel − 1 via bit
    * shift — pow() is not cross-engine-stable, shifts are), discounts
    * are ln(rk+1)/ln 2 on integer args (bitwise-equal across engines,
    * q88's verification), each DCG term half-up bridges to a 1e-9
    * decimal grid so the ≤k-row sums are order-independent. The ideal
    * ranking is rel-sorted with doc-id tiebreak over the same matched
    * set. O(|queries|) output; all per-query frames are k-bounded. */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame =
    retrievalNdcgOf(docs(spark, dir))

  /** [[retrievalNdcg]] over an arbitrary (doc_id, text) frame — the
    * spec entry point (a planted tf-vs-coverage disagreement must
    * surface as ndcg < 1). */
  def retrievalNdcgOf(docsF: DataFrame): DataFrame = {
    val spark = docsF.sparkSession
    val dv = s"graft_ndcg_docs_t${Thread.currentThread().getId}"
    docsF.createOrReplaceTempView(dv)
    val hitsV = s"graft_ndcg_hits_t${Thread.currentThread().getId}"
    spark.sql(s"""
      WITH qt AS (SELECT * FROM VALUES $bm25ValuesSql AS t(query_id, term)),
      uni AS (
        SELECT doc_id, explode(${wordsExpr("text")}) AS term FROM $dv)
      SELECT /*+ BROADCAST(qt) */ u.doc_id, u.term, qt.query_id
      FROM uni u JOIN qt ON u.term = qt.term""")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(hitsV)
    val gain = "CAST(shiftleft(1, rel) - 1 AS DOUBLE)"
    spark.sql(s"""
      WITH tf AS (SELECT query_id, doc_id, term, count(1) AS tf
             FROM $hitsV GROUP BY query_id, doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df
             FROM $hitsV GROUP BY term),
      dl AS (SELECT doc_id, CAST($tokenCountExprSql AS BIGINT) AS dl
             FROM $dv),
      st AS (SELECT count(1) AS n_docs, sum(dl) AS sum_dl FROM dl),
      contrib AS (
        SELECT query_id, tf.doc_id, $bm25ContribSql AS c6
        FROM (SELECT query_id, doc_id, term, CAST(tf AS DOUBLE) AS tfd FROM tf) tf
        JOIN (SELECT term, CAST(df AS DOUBLE) AS dfd FROM df) df ON tf.term = df.term
        JOIN (SELECT doc_id, CAST(dl AS DOUBLE) AS dld FROM dl) dl ON tf.doc_id = dl.doc_id
        CROSS JOIN (SELECT CAST(n_docs AS DOUBLE) AS ndd,
                      CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st)),
      sc AS (SELECT query_id, doc_id, CAST(sum(c6) AS DOUBLE) / 1e6 AS score
             FROM contrib GROUP BY query_id, doc_id),
      sparse AS (
        SELECT query_id, doc_id, score,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS INT) AS rk
        FROM sc),
      rel AS (SELECT query_id, doc_id, CAST(count(DISTINCT term) AS INT) AS rel
              FROM $hitsV GROUP BY query_id, doc_id),
      dterm AS (
        SELECT s.query_id,
          CAST(floor(($gain / (ln(CAST(s.rk + 1 AS DOUBLE)) / ln(2.0)))
            * 1e9 + 0.5) AS DECIMAL(30,0)) AS t9
        FROM sparse s JOIN rel r
          ON s.query_id = r.query_id AND s.doc_id = r.doc_id
        WHERE s.rk <= $Bm25TopK),
      ideal AS (
        SELECT query_id, rel,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, doc_id) AS INT) AS rk
        FROM rel),
      iterm AS (
        SELECT query_id,
          CAST(floor(($gain / (ln(CAST(rk + 1 AS DOUBLE)) / ln(2.0)))
            * 1e9 + 0.5) AS DECIMAL(30,0)) AS t9
        FROM ideal WHERE rk <= $Bm25TopK),
      d AS (SELECT query_id, CAST(sum(t9) AS DOUBLE) / 1e9 AS dcg
            FROM dterm GROUP BY query_id),
      i AS (SELECT query_id, CAST(sum(t9) AS DOUBLE) / 1e9 AS idcg
            FROM iterm GROUP BY query_id)
      SELECT d.query_id,
        ${droundSql("d.dcg", 6)} AS dcg,
        ${droundSql("i.idcg", 6)} AS idcg,
        ${droundSql("d.dcg / i.idcg", 6)} AS ndcg
      FROM d JOIN i ON d.query_id = i.query_id
      ORDER BY d.query_id""")
  }

  def retrievalNdcgSql: String = {
    val gain = "CAST((1 << rel) - 1 AS DOUBLE)"
    s"""
      WITH $bm25RankedOracleCtes,
      rel AS (SELECT query_id, doc_id, count(DISTINCT term)::INT AS rel
              FROM hits GROUP BY query_id, doc_id),
      dterm AS (
        SELECT s.query_id,
          CAST(floor(($gain / (ln(CAST(s.rk + 1 AS DOUBLE)) / ln(2.0)))
            * 1e9 + 0.5) AS DECIMAL(30,0)) AS t9
        FROM sparse s JOIN rel r
          ON s.query_id = r.query_id AND s.doc_id = r.doc_id
        WHERE s.rk <= $Bm25TopK),
      ideal AS (
        SELECT query_id, rel,
          (row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, doc_id))::INT AS rk
        FROM rel),
      iterm AS (
        SELECT query_id,
          CAST(floor(($gain / (ln(CAST(rk + 1 AS DOUBLE)) / ln(2.0)))
            * 1e9 + 0.5) AS DECIMAL(30,0)) AS t9
        FROM ideal WHERE rk <= $Bm25TopK),
      d AS (SELECT query_id, CAST(sum(t9) AS DOUBLE) / 1e9 AS dcg
            FROM dterm GROUP BY query_id),
      i AS (SELECT query_id, CAST(sum(t9) AS DOUBLE) / 1e9 AS idcg
            FROM iterm GROUP BY query_id)
      SELECT d.query_id,
        ${droundSql("d.dcg", 6)} AS dcg,
        ${droundSql("i.idcg", 6)} AS idcg,
        ${droundSql("d.dcg / i.idcg", 6)} AS ndcg
      FROM d JOIN i ON d.query_id = i.query_id
      ORDER BY d.query_id"""
  }

  // ---------------------------------------------------------------- q164
  /** BM25 serving from an inverted index AT REST — the text-retrieval
    * mirror of q146's ANN serving: the posting-list table
    * (term, doc_id, tf) and the doc-length table are built ONCE into the
    * warehouse ([[graft.core.Warehouse.tableOnce]], Hive `shard=N`
    * layout, shard = xhash(term) mod [[Bm25Shards]]) and the serve path
    * answers the whole query batch from those tables alone — no scan,
    * split, or explode of corpus text at query time (PlanSpec-asserted).
    * Because the query vocabulary is literal, BOTH prunings push into
    * the index scan: `shard IN (...)` is precomputed driver-side with
    * the same md5-derived hash (partition pruning — unlisted shards are
    * never even listed) and `term IN (...)` reaches the parquet reader
    * as a row-group filter. Scoring is q90's decimal-bridged formula
    * verbatim over the stored tf/df/dl, and the ORACLE IS q90's oracle:
    * same contract, different execution — the hash match proves the
    * at-rest index lost nothing. At 100 TB the index build is one
    * explode + hash agg (the shuffle key is the term), and every serve
    * after it touches |query-vocab| shards of a table that is ~1% the
    * corpus size. */
  val Bm25Shards = 8

  /** Driver-side twin of [[graft.core.Determinism.xhash]] (first 15 md5
    * hex chars as a 60-bit long) — lets the literal query vocabulary
    * turn into a `shard IN (...)` partition-pruning predicate. */
  private[operators] def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  private def wtable(dir: String, base: String): String =
    base + "_" + dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')

  /** Build-or-read the at-rest postings + doclen tables for `dir`. */
  def bm25IndexTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    docs(spark, dir).createOrReplaceTempView("documents")
    val postings = graft.core.Warehouse.tableOnce(
      spark, wtable(dir, "bm25_postings"), "shard") {
      spark.sql(s"""
        SELECT term, doc_id, CAST(count(1) AS BIGINT) AS tf,
          CAST(pmod(${graft.core.Determinism.xhashExpr("term")},
            $Bm25Shards) AS INT) AS shard
        FROM (SELECT doc_id, explode(${wordsExpr("text")}) AS term
              FROM documents)
        GROUP BY term, doc_id""")
    }
    val doclen = graft.core.Warehouse.tableOnce(
      spark, wtable(dir, "bm25_doclen")) {
      spark.sql(s"""
        SELECT doc_id, CAST($tokenCountExprSql AS BIGINT) AS dl
        FROM documents""")
    }
    (postings, doclen)
  }

  def bm25IndexServe(spark: SparkSession, dir: String): DataFrame = {
    val (postings, doclen) = bm25IndexTables(spark, dir)
    bm25ServeFrom(spark, postings, doclen)
  }

  /** The q164 serve stage over arbitrary (term, doc_id, tf, shard)
    * postings + (doc_id, dl) doclen frames — shared with q178's
    * base-plus-append composition. */
  def bm25ServeFrom(spark: SparkSession, postings: DataFrame,
                    doclen: DataFrame): DataFrame = {
    val tid = Thread.currentThread().getId
    postings.createOrReplaceTempView(s"bm25_idx_t$tid")
    doclen.createOrReplaceTempView(s"bm25_dlen_t$tid")
    val terms = Bm25Queries.flatMap(_._2).distinct
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val shardList = terms.map(t => md5Hash60(t) % Bm25Shards)
      .distinct.sorted.mkString(", ")
    spark.sql(s"""
      WITH qt AS (SELECT * FROM VALUES $bm25ValuesSql AS t(query_id, term)),
      p AS (
        SELECT term, doc_id, tf FROM bm25_idx_t$tid
        WHERE shard IN ($shardList) AND term IN ($termList)),
      df AS (SELECT term, CAST(count(1) AS BIGINT) AS df FROM p GROUP BY term),
      st AS (SELECT count(1) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
             FROM bm25_dlen_t$tid),
      contrib AS (
        SELECT /*+ BROADCAST(qt, df) */ qt.query_id, tf.doc_id,
          $bm25ContribSql AS c6
        FROM (SELECT term, doc_id, CAST(tf AS DOUBLE) AS tfd FROM p) tf
        JOIN qt ON tf.term = qt.term
        JOIN (SELECT term, CAST(df AS DOUBLE) AS dfd FROM df) df
          ON tf.term = df.term
        JOIN (SELECT doc_id, CAST(dl AS DOUBLE) AS dld FROM bm25_dlen_t$tid) dl
          ON tf.doc_id = dl.doc_id
        CROSS JOIN (SELECT CAST(n_docs AS DOUBLE) AS ndd,
                      CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
                    FROM st)),
      sc AS (SELECT query_id, doc_id, CAST(sum(c6) AS DOUBLE) / 1e6 AS score
             FROM contrib GROUP BY query_id, doc_id)
      SELECT query_id, rk, doc_id, score FROM (
        SELECT query_id, doc_id, score,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS INT) AS rk
        FROM sc)
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""")
  }

  // ---------------------------------------------------------------- q150
  /** Hybrid retrieval with reciprocal-rank fusion — the production
    * search stack's merge step: a lexical ranking (q90's BM25 top-k)
    * and a dense ranking (cosine top-k for a per-query probe vector,
    * [[DenseProbes]] mapping query ids to probe vec_ids, vec_id ≡
    * doc_id in this corpus) are fused by
    * RRF(d) = Σ_lists 1/(C + rank_list(d)), the rank-only fusion that
    * needs no score calibration between modalities. Determinism: each
    * 1/(C+rank) term is floor-bridged to an exact 1e9-grid integer, so
    * the fused score is a BIGINT sum — rank ties break by doc_id.
    * Scale shape: both input rankings are already k-bounded per query
    * (BM25's windowed top-k, dense's bounded top-k `Aggregator`), so
    * the fusion join touches O(queries × k) rows regardless of corpus
    * size. */
  val RrfC = 60              // the standard RRF damping constant
  val FuseTopK = 10
  val DenseProbes: Seq[(String, Long)] =
    Seq("bq1" -> 1L, "bq2" -> 2L, "bq3" -> 3L)

  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val sparse = bm25Search(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rk").as("sparse_rk"))
    val e = embs(spark, dir)
    val probes = broadcast(
      spark.createDataFrame(DenseProbes).toDF("query_id", "probe_id"))
      .join(e, col("probe_id") === col("vec_id"))
      .select(col("query_id"), col("probe_id"), col("embedding").as("qv"))
    val dense = broadcast(probes)
      .join(e.select(col("vec_id").as("doc_id"), col("embedding").as("cv")),
        col("doc_id") =!= col("probe_id"))
      .withColumn("cos", expr(Similarity.cosineExpr("qv", "cv")))
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates
        .topKOf(Bm25TopK, col("cos"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.cand_id").as("doc_id"),
        (col("i") + 1).cast("int").as("dense_rk"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf9").desc, col("doc_id"))
    sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf9", expr(
        s"coalesce(CAST(floor(1e9 / ($RrfC + sparse_rk)) AS BIGINT), 0) + " +
        s"coalesce(CAST(floor(1e9 / ($RrfC + dense_rk)) AS BIGINT), 0)"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= FuseTopK)
      .select(col("query_id"), col("rk"), col("doc_id"),
        (col("rrf9").cast("double") / lit(1e9)).as("rrf"),
        col("sparse_rk"), col("dense_rk"))
      .orderBy("query_id", "rk")
  }

  /** The q90 oracle's CTE chain through the ranked BM25 list (`sparse`),
    * shared verbatim with the q150 fusion oracle. */
  private def bm25RankedOracleCtes: String = bm25RankedOracleCtesOn("documents")

  /** The q90/q164 oracle CTE chain over an arbitrary docs relation —
    * parameterized so q218's delete oracle can replay the same scoring
    * over the tombstone-filtered corpus. */
  private def bm25RankedOracleCtesOn(docsRel: String): String = s"""
      qt(query_id, term) AS (VALUES $bm25ValuesSql),
      uni AS (
        SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM $docsRel),
      hits AS (SELECT u.doc_id, u.term, qt.query_id
               FROM uni u JOIN qt ON u.term = qt.term),
      tf AS (SELECT query_id, doc_id, term, count(*) AS tf
             FROM hits GROUP BY query_id, doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df
             FROM hits GROUP BY term),
      dl AS (SELECT doc_id, ${tokenCountSql("text")}::BIGINT AS dl
             FROM $docsRel),
      st AS (SELECT count(*) AS n_docs,
               CAST(sum(${tokenCountSql("text")}::BIGINT) AS BIGINT) AS sum_dl
             FROM $docsRel),
      contrib AS (
        SELECT query_id, tf.doc_id, $bm25ContribSql AS c6
        FROM (SELECT query_id, doc_id, term, tf::DOUBLE AS tfd FROM tf) tf
        JOIN (SELECT term, df::DOUBLE AS dfd FROM df) df ON tf.term = df.term
        JOIN (SELECT doc_id, dl::DOUBLE AS dld FROM dl) dl ON tf.doc_id = dl.doc_id
        CROSS JOIN (SELECT n_docs::DOUBLE AS ndd,
                      sum_dl::DOUBLE / n_docs::DOUBLE AS avgdl FROM st)),
      sc AS (SELECT query_id, doc_id, CAST(sum(c6) AS DOUBLE) / 1e6 AS score
             FROM contrib GROUP BY query_id, doc_id),
      sparse AS (
        SELECT query_id, doc_id, score,
          (row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id))::INT AS rk
        FROM sc)"""

  private def hybridSearchOracleSql: String = {
    val probeVals = DenseProbes
      .map { case (q, p) => s"('$q', $p)" }.mkString(", ")
    s"""
      WITH $bm25RankedOracleCtes,
      dq(query_id, probe_id) AS (VALUES $probeVals),
      dp AS (SELECT dq.query_id, dq.probe_id, e.embedding AS qv
             FROM dq JOIN embeddings e ON e.vec_id = dq.probe_id),
      dsc AS (
        SELECT query_id, vec_id AS doc_id,
          ${Similarity.cosineSql("qv", "embedding")} AS cos
        FROM dp JOIN embeddings ON vec_id <> probe_id),
      dense AS (
        SELECT query_id, doc_id,
          (row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, doc_id))::INT AS rk
        FROM dsc),
      s AS (SELECT query_id, doc_id, rk FROM sparse WHERE rk <= $Bm25TopK),
      d AS (SELECT query_id, doc_id, rk FROM dense WHERE rk <= $Bm25TopK),
      f AS (
        SELECT coalesce(s.query_id, d.query_id) AS query_id,
          coalesce(s.doc_id, d.doc_id) AS doc_id,
          s.rk AS sparse_rk, d.rk AS dense_rk,
          coalesce(CAST(floor(1e9 / ($RrfC + s.rk)) AS BIGINT), 0) +
          coalesce(CAST(floor(1e9 / ($RrfC + d.rk)) AS BIGINT), 0) AS rrf9
        FROM s FULL OUTER JOIN d
          ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
      SELECT query_id, rk, doc_id, rrf9::DOUBLE / 1e9 AS rrf,
        sparse_rk, dense_rk
      FROM (
        SELECT query_id, doc_id, rrf9, sparse_rk, dense_rk,
          (row_number() OVER (PARTITION BY query_id
            ORDER BY rrf9 DESC, doc_id))::INT AS rk
        FROM f)
      WHERE rk <= $FuseTopK
      ORDER BY query_id, rk"""
  }

  // ---------------------------------------------------------------- q91
  /** Equi-width numeric histogram: two passes (exact min/max, then one
    * hash agg on the bin id) — the portable form of width_bucket, with
    * the bin arithmetic spelled once for both engines. Bin edges are fp
    * but every row's bin is the same IEEE expression in both engines;
    * the last bin absorbs the x = max edge. */
  def numericHistSql(table: String): String = s"""
    WITH st AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM $table),
    b AS (
      SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / $HistBins.0)),
        ${HistBins - 1}.0) AS INT) AS bin, lo, hi
      FROM $table CROSS JOIN st)
    SELECT bin, count(1) AS n,
      ${droundSql(s"lo + bin * ((hi - lo) / $HistBins.0)", 4)} AS bin_lo,
      ${droundSql(s"lo + (bin + 1) * ((hi - lo) / $HistBins.0)", 4)} AS bin_hi
    FROM b GROUP BY bin, lo, hi
    ORDER BY bin"""

  def numericHist(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(numericHistSql("lineitem"))
  }

  // ---------------------------------------------------------------- q92
  /** End-to-end semantic dedup over embeddings: cosine near-dup pairs
    * within blocking cells (q38's operator) → connected components →
    * every vector labeled with its component and a keep flag (component
    * representative = min vec_id). The embedding-space mirror of q74's
    * text-space surviving corpus. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val comp = Dedup.connectedComponents(
      Similarity.cosineNearDupPairs(e, "label", LlmQueries.EmbTau))
    e.select(col("vec_id"))
      .join(comp, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"),
        (col("component").isNull || col("component") === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q93
  /** Shared fp core of the KL computation — smoothed probability and the
    * decimal-bridged per-term contribution, spelled once for both
    * engines. `c0/ns/v` resp. `pa/pb` are columns in scope at the call
    * sites. Terms are half-up rounded on a 1e-12 grid (they are O(1e-4))
    * and summed as exact decimals — order-independent. */
  private val klPSql = "CAST(c0 + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE)"
  private val klTermSql =
    "CAST(floor(pa * ln(pa / pb) * 1e12 + 0.5) AS DECIMAL(38,0))"
  private def klBitsSql: String =
    droundSql("(CAST(sum(k12) AS DOUBLE) / 1e12) / ln(2.0)", 6)

  /** Training-mixture drift matrix: add-one-smoothed KL divergence (bits)
    * between every ordered pair of sources' term distributions — the
    * monitoring signal for "did source X's content shift vs Y" when
    * composing corpus mixtures. One exploded-terms pass feeds per-source
    * counts; the (source × vocab) grid and the pair join are
    * |sources|²·|vocab| rows — at real scale cap the vocab to the top-V
    * terms (as q67 does) so the grid stays bounded; the corpus itself is
    * touched once. */
  def klDrift(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH uni AS (
        SELECT source, explode(${wordsExpr("text")}) AS t FROM documents),
      cnt AS (SELECT source, t, count(1) AS c FROM uni GROUP BY source, t),
      nst AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY source),
      vocab AS (SELECT DISTINCT t FROM uni),
      vc AS (SELECT count(1) AS v FROM vocab),
      grid AS (
        SELECT s.source, vocab.t, coalesce(c.c, 0) AS c0, s.ns, vc.v
        FROM nst s CROSS JOIN vocab CROSS JOIN vc
        LEFT JOIN cnt c ON c.source = s.source AND c.t = vocab.t),
      p AS (SELECT source, t, $klPSql AS prob FROM grid),
      term AS (
        SELECT a.source AS source_a, b.source AS source_b,
          ${klTermSql.replace("pa", "a.prob").replace("pb", "b.prob")} AS k12
        FROM p a JOIN p b ON a.t = b.t AND a.source <> b.source)
      SELECT source_a, source_b, $klBitsSql AS kl_bits
      FROM term GROUP BY source_a, source_b
      ORDER BY source_a, source_b""")
  }

  // ---------------------------------------------------------------- q178
  /** Append-only BM25 index maintenance — q151's frozen-codebook
    * discipline for the TEXT index: the base corpus (source ≠
    * BatchSource) builds its postings + doclen tables into the
    * warehouse ONCE; an arriving batch is the only text tokenized —
    * its postings/doclen rows union with the stored base and the q164
    * serve runs over the composition. The result is hash-proven equal
    * to q90/q164 over the FULL corpus (same oracle), so the append
    * path loses nothing while never re-reading base text. Works
    * because tf/df/dl are per-(term,doc) local and the corpus stats
    * are one aggregate over the unioned doclen — BM25's statistics
    * decompose over disjoint doc sets. The STREAM-TIME twin
    * [[graft.streaming.EventAnalytics.startStreamingPostingsAppend]]
    * lands each micro-batch's postings under `batch_run=N`. */
  def bm25BaseTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = docs(spark, dir)
      .filter(col("source") =!= LlmQueries.BatchSource)
    val postings = graft.core.Warehouse.tableOnce(
      spark, wtable(dir, "bm25_postings_base"), "shard") {
      bm25PostingsOf(base)
    }
    val doclen = graft.core.Warehouse.tableOnce(
      spark, wtable(dir, "bm25_doclen_base")) {
      bm25DoclenOf(base)
    }
    (postings, doclen)
  }

  /** Postings / doclen for an arbitrary (doc_id, text) frame — the
    * increment builder (only this frame is tokenized). */
  def bm25PostingsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), explode(words("text")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("shard", expr(
        s"CAST(pmod(${graft.core.Determinism.xhashExpr("term")}, " +
          s"$Bm25Shards) AS INT)"))
      .select("term", "doc_id", "tf", "shard")

  def bm25DoclenOf(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      tokenCount("text").cast("long").as("dl"))

  def bm25IndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val (bp, bd) = bm25BaseTables(spark, dir)
    val batch = docs(spark, dir)
      .filter(col("source") === LlmQueries.BatchSource)
    bm25ServeFrom(spark,
      bp.select("term", "doc_id", "tf", "shard")
        .union(bm25PostingsOf(batch)),
      bd.select("doc_id", "dl").union(bm25DoclenOf(batch)))
  }

  // ---------------------------------------------------------------- q218
  /** Targeted DELETE from the at-rest BM25 index (the takedown /
    * right-to-be-forgotten pass) — the third lifecycle op the index
    * family needed after serve (q164) and append (q178): a tombstone
    * set of doc ids (doc_id ≡ [[Bm25DelRem]] mod [[Bm25DelMod]], ~6%
    * of the corpus) is removed WITHOUT rebuilding anything. Deletion
    * semantics for BM25 are subtle because df, |D| and avgdl all
    * shift when docs leave; the serve path already recomputes df from
    * the query-pruned posting slice and the corpus stats from doclen,
    * so deletion is exactly two broadcast anti-joins: doclen minus
    * tombstones (fixes |D|, avgdl, dl) and the pruned posting slice
    * minus tombstones (fixes tf rows and therefore df). The ORACLE
    * replays full BM25 over the tombstone-filtered corpus, so the
    * hash match proves delete ∘ store ≡ rebuild-from-scratch.
    *
    * Scale: the tombstone set broadcasts (takedown lists are small);
    * the posting anti-join rides the ALREADY shard+term-pruned slice
    * (Catalyst pushes those filters below the anti-join), so serve
    * cost is unchanged and nothing ever rescans or rewrites the
    * stored index — the tombstone pattern every segment-based engine
    * (Lucene, Druid) uses, with physical purge deferred to the next
    * q75-style compaction. */
  val Bm25DelMod = 17
  val Bm25DelRem = 3

  def bm25IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val (postings, doclen) = bm25IndexTables(spark, dir)
    // a real takedown list is arbitrary ids: model it as a broadcast
    // anti-join against a tombstone FRAME, not a pushable predicate
    val tomb = doclen.select(col("doc_id"))
      .filter(col("doc_id") % Bm25DelMod === Bm25DelRem)
    bm25ServeFrom(spark,
      postings.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
      doclen.join(broadcast(tomb), Seq("doc_id"), "left_anti"))
  }

  // ---------------------------------------------------------------- q242
  /** Physical PURGE of tombstoned docs from the BM25 index — the
    * compaction q218's scaladoc defers to, giving text retrieval the
    * same complete lifecycle ANN (q225) and the bitmap index (q238)
    * have: the purge anti-joins the tombstone cohort out of the stored
    * postings AND doclen tables ONCE, publishes both rewrites as the
    * next crash-safe Warehouse versions ([[graft.core.Warehouse
    * .publish]] + [[graft.core.Warehouse.gc]]), and serves with NO
    * anti-join — the rows are physically gone, so every future query
    * stops paying the tombstone join forever (the Lucene segment-merge
    * moment). Gates on tombstone PRESENCE in the live doclen table
    * (never a version number — idempotent under persistent warehouse
    * roots, the q225 advisor discipline). Runs against its OWN tables,
    * not q164/q218's serving tables, per the Warehouse versioned-reader
    * contract. The ORACLE IS q218's (full BM25 replay on the
    * tombstone-filtered corpus), so the hash match proves
    * purge ∘ publish ≡ tombstone view ≡ rebuild. Cost: one scan +
    * rewrite of the index's own bytes (~1% of corpus); text is never
    * re-tokenized. The cohort purges as a pushable predicate; an
    * arbitrary takedown LIST would broadcast-anti-join instead, as
    * q218 models. Atomicity note, stated honestly: the index is TWO
    * tables and each publish is atomic per table, so a writer killed
    * between the two leaves a jointly-stale pair — but the gate tests
    * BOTH tables for tombstones, so the partial pair stays dirty and
    * the next purge completes it (idempotent convergence); joint
    * cross-table atomicity is a catalog-transaction concern
    * (Delta/Iceberg commit), out of scope for a file warehouse. */
  def bm25IndexPurge(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    val pt = wtable(dir, "bm25_postings_purge")
    val dt = wtable(dir, "bm25_doclen_purge")
    val postings0 = graft.core.Warehouse.tableOnce(spark, pt, "shard") {
      bm25PostingsOf(docs(spark, dir))
    }
    graft.core.Warehouse.tableOnce(spark, dt) {
      bm25DoclenOf(docs(spark, dir))
    }
    val isTomb = col("doc_id") % Bm25DelMod === Bm25DelRem
    val dirty = !graft.core.Warehouse.readTable(spark, dt)
      .filter(isTomb).isEmpty ||
      !graft.core.Warehouse.readTable(spark, pt).filter(isTomb).isEmpty
    if (dirty) {
      graft.core.Warehouse.publish(
        postings0.filter(!isTomb)
          .select("term", "doc_id", "tf", "shard"), pt, Seq("shard"))
      graft.core.Warehouse.publish(
        graft.core.Warehouse.readTable(spark, dt).filter(!isTomb), dt)
      graft.core.Warehouse.gc(spark, pt)
      graft.core.Warehouse.gc(spark, dt)
    }
    bm25ServeFrom(spark,
      graft.core.Warehouse.readTable(spark, pt),
      graft.core.Warehouse.readTable(spark, dt))
  }

  // ---------------------------------------------------------------- q241
  /** In-place document UPDATE against the at-rest BM25 index — the
    * q236 (ANN update) composed-lifecycle verb for text retrieval,
    * completing the family: build (q164) → append (q178) → delete
    * (q218) → UPDATE. A revised cohort (doc_id ≡ [[Bm25UpdRem]] mod
    * [[Bm25UpdMod]]) re-publishes each doc as its FIRST HALF plus a
    * brand-new marker token — a revision that exercises every way an
    * edit moves BM25's statistics at once: dl shrinks (avgdl shifts
    * corpus-wide), tf of dropped words falls, df falls where a word
    * lived only in the dropped half, and an unseen term enters the
    * index. The verb is delete ∘ insert under one serve: stored
    * postings/doclen anti-join the cohort (the q218 move), fresh rows
    * tokenize from ONLY the revised docs (the q178 move), and the q164
    * serve runs over the composition — O(updates) text work, the base
    * index never rescanned or rewritten, the segment-engine update
    * path (Lucene's delete-then-add) in its Spark spelling. The
    * ORACLE replays full BM25 over the corpus with the cohort's text
    * substituted, so the hash match proves update ∘ store ≡
    * rebuild-with-revisions. */
  val Bm25UpdMod = 9
  val Bm25UpdRem = 2

  /** The revision: first ⌈n/2⌉ words + a marker term, spelled once per
    * dialect (slice semantics verified identical for start=1). */
  private def revisedTextSpark: String =
    s"concat(array_join(slice(${wordsExpr("text")}, 1, " +
      s"CAST(ceil(size(${wordsExpr("text")}) / 2.0) AS INT)), ' '), " +
      "' revisedtok')"
  private def revisedTextDuck: String =
    s"array_to_string(list_slice(${wordsSql("text")}, 1, " +
      s"ceil(len(${wordsSql("text")}) / 2.0)::INT), ' ') || ' revisedtok'"

  def bm25IndexUpdate(spark: SparkSession, dir: String): DataFrame = {
    val (postings, doclen) = bm25IndexTables(spark, dir)
    val upd = docs(spark, dir)
      .filter(col("doc_id") % Bm25UpdMod === Bm25UpdRem)
    val revised = upd.select(col("doc_id"),
      expr(revisedTextSpark).as("text"))
    val tomb = upd.select(col("doc_id"))
    bm25ServeFrom(spark,
      postings.join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .select("term", "doc_id", "tf", "shard")
        .union(bm25PostingsOf(revised)),
      doclen.join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .select("doc_id", "dl")
        .union(bm25DoclenOf(revised)))
  }

  private[operators] def bm25IndexUpdateOracleSql: String = s"""
      WITH upd AS (
        SELECT doc_id,
          CASE WHEN doc_id % $Bm25UpdMod = $Bm25UpdRem
               THEN $revisedTextDuck ELSE text END AS text
        FROM documents),
      ${bm25RankedOracleCtesOn("upd")}
      SELECT query_id, rk, doc_id, score FROM sparse
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk"""

  // ---------------------------------------------------------------- q177
  /** Exact PHRASE search over a positional inverted index at rest —
    * the capability tf-only retrieval (q90/q164) cannot express: the
    * postings table gains a position column ((term, doc_id, pos),
    * same warehouse shard=N-on-term layout), and a k-word phrase is k
    * doc-aligned self-joins with position offsets (p_i = p_1 + i − 1)
    * — equality joins the optimizer handles, no window, no regex over
    * text at query time. Phrase hit counts rank per query (top-
    * [[PhraseTopK]], doc_id tiebreak). Same double pruning as q164:
    * `shard IN` precomputed driver-side from the literal phrase
    * vocabulary + `term IN` pushed to the parquet reader. The oracle
    * builds positions inline from raw text — the hash match proves the
    * at-rest positional index is lossless. */
  val PhraseTopK = 5
  val PhraseQueries: Seq[(String, Seq[String])] = Seq(
    "ph1" -> Seq("hash", "table"),
    "ph2" -> Seq("window", "sort"),
    "ph3" -> Seq("batch", "line"))

  def phrasePositionsTable(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    graft.core.Warehouse.tableOnce(
      spark, wtable(dir, "bm25_positions"), "shard") {
      spark.sql(s"""
        SELECT doc_id, word AS term, CAST(p + 1 AS INT) AS pos,
          CAST(pmod(${graft.core.Determinism.xhashExpr("word")},
            $Bm25Shards) AS INT) AS shard
        FROM (
          SELECT doc_id, posexplode(${wordsExpr("text")}) AS (p, word)
          FROM documents)""")
    }
  }

  /** The per-phrase match + rank SQL over a positional relation `P`
    * (engine-common). */
  private def phraseSearchSql(p: String): String = {
    val branches = PhraseQueries.map { case (qid, terms) =>
      val joins = terms.zipWithIndex.tail.map { case (t, i) =>
        s"""JOIN $p p$i ON p$i.doc_id = p0.doc_id
           AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"""
      }.mkString("\n        ")
      s"""
        SELECT '$qid' AS query_id, p0.doc_id,
          CAST(count(1) AS BIGINT) AS n_hits
        FROM $p p0
        $joins
        WHERE p0.term = '${terms.head}'
        GROUP BY p0.doc_id"""
    }.mkString(" UNION ALL ")
    s"""
      WITH hits AS ($branches)
      SELECT query_id, rk, doc_id, n_hits FROM (
        SELECT query_id, doc_id, n_hits,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY n_hits DESC, doc_id) AS INT) AS rk
        FROM hits) z
      WHERE rk <= $PhraseTopK
      ORDER BY query_id, rk"""
  }

  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val postings = phrasePositionsTable(spark, dir)
    val terms = PhraseQueries.flatMap(_._2).distinct
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val shardList = terms.map(t => md5Hash60(t) % Bm25Shards)
      .distinct.sorted.mkString(", ")
    val v = s"graft_phrase_idx_t${Thread.currentThread().getId}"
    postings.createOrReplaceTempView(v)
    spark.sql(phraseSearchSql(
      s"""(SELECT term, doc_id, pos FROM $v
           WHERE shard IN ($shardList) AND term IN ($termList))"""))
  }

  def phraseSearchOracleSql: String = phraseSearchSql(s"""
      (SELECT doc_id, w[p] AS term, p AS pos FROM (
        SELECT doc_id, unnest(range(1, len(w) + 1))::INT AS p, w
        FROM (SELECT doc_id, ${wordsSql("text")} AS w FROM documents) d0) d1)
      """)

  // ---------------------------------------------------------------- q180
  /** NEAR / slop proximity search over the same positional index —
    * the middle ground between q90's bag-of-words and q177's exact
    * phrase: a 2-term query hits wherever its terms appear in order
    * within [[NearSlop]] tokens (p₂ − p₁ ∈ [1, slop]), the equality
    * join relaxed to a band — still an index-only plan with the same
    * shard/term pruning, no text at query time. Hit counts rank per
    * query. (k-term slop queries decompose into k−1 banded pair joins
    * the same way; the declared queries are pairs.) */
  val NearSlop = 4
  private def nearSearchSql(p: String): String = {
    val branches = PhraseQueries.map { case (qid, terms) =>
      val (t1, t2) = (terms.head, terms(1))
      s"""
        SELECT '$qid' AS query_id, p0.doc_id,
          CAST(count(1) AS BIGINT) AS n_hits
        FROM $p p0
        JOIN $p p1 ON p1.doc_id = p0.doc_id
          AND p1.pos - p0.pos BETWEEN 1 AND $NearSlop
          AND p1.term = '$t2'
        WHERE p0.term = '$t1'
        GROUP BY p0.doc_id"""
    }.mkString(" UNION ALL ")
    s"""
      WITH hits AS ($branches)
      SELECT query_id, rk, doc_id, n_hits FROM (
        SELECT query_id, doc_id, n_hits,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY n_hits DESC, doc_id) AS INT) AS rk
        FROM hits) z
      WHERE rk <= $PhraseTopK
      ORDER BY query_id, rk"""
  }

  def nearSearch(spark: SparkSession, dir: String): DataFrame = {
    val postings = phrasePositionsTable(spark, dir)
    val terms = PhraseQueries.flatMap(_._2).distinct
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val shardList = terms.map(t => md5Hash60(t) % Bm25Shards)
      .distinct.sorted.mkString(", ")
    val v = s"graft_near_idx_t${Thread.currentThread().getId}"
    postings.createOrReplaceTempView(v)
    spark.sql(nearSearchSql(
      s"""(SELECT term, doc_id, pos FROM $v
           WHERE shard IN ($shardList) AND term IN ($termList))"""))
  }

  def nearSearchOracleSql: String = nearSearchSql(s"""
      (SELECT doc_id, w[p] AS term, p AS pos FROM (
        SELECT doc_id, unnest(range(1, len(w) + 1))::INT AS p, w
        FROM (SELECT doc_id, ${wordsSql("text")} AS w FROM documents) d0) d1)
      """)

  // ---------------------------------------------------------------- q167
  /** Population-stability-index drift per source — the other standard
    * mixture-monitoring readout beside q93's KL matrix: each source's
    * quality-score distribution over 10 fixed [0,1] bins against the
    * whole-corpus baseline, PSI = Σ_bins (p_s − p_0)·ln(p_s/p_0) with
    * add-one smoothing (so empty bins are finite). Fixed equal-width
    * bins mean NO quantile pass — two hash aggs over a 1-byte bin key
    * and an O(|sources|·10) grid, at any corpus size. The ln terms ride
    * q93's proven 1e-12 decimal bridge; the sum is order-independent.
    * PSI > 0.25 is the classic "population shifted" alarm threshold. */
  private def psiSql(qHead: String): String = s"""
      WITH q AS ($qHead),
      b AS (
        SELECT source, CAST(least(floor(q * 10), 9) AS INT) AS bin FROM q),
      bins AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9))
               AS t(bin)),
      src AS (SELECT source, count(1) AS ns FROM b GROUP BY source),
      cnt AS (SELECT source, bin, count(1) AS c FROM b GROUP BY source, bin),
      tot AS (SELECT bin, count(1) AS c0 FROM b GROUP BY bin),
      nn AS (SELECT count(1) AS n FROM b),
      grid AS (
        SELECT s.source, bins.bin, s.ns,
          coalesce(c.c, 0) AS c, coalesce(t.c0, 0) AS c0, nn.n
        FROM src s CROSS JOIN bins
        LEFT JOIN cnt c ON c.source = s.source AND c.bin = bins.bin
        LEFT JOIN tot t ON t.bin = bins.bin
        CROSS JOIN nn),
      p AS (
        SELECT source, ns,
          CAST(c + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE) AS ps,
          CAST(c0 + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE) AS p0
        FROM grid),
      term AS (
        SELECT source, ns,
          CAST(floor((ps - p0) * ln(ps / p0) * 1e12 + 0.5) AS DECIMAL(38,0))
            AS t12
        FROM p)
      SELECT source, CAST(min(ns) AS BIGINT) AS n_docs,
        ${droundSql("CAST(sum(t12) AS DOUBLE) / 1e12", 6)} AS psi
      FROM term GROUP BY source ORDER BY source"""

  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftOf(docs(spark, dir))

  /** [[psiDrift]] over an arbitrary (source, text) frame — the spec
    * entry point (a planted shifted source must alarm, twins must not). */
  def psiDriftOf(docsDf: DataFrame): DataFrame = {
    val spark = docsDf.sparkSession
    val view = s"graft_psi_docs_t${Thread.currentThread().getId}"
    docsDf
      .select(col("source"), LlmQueries.qualityCol.as("q"))
      .createOrReplaceTempView(view)
    spark.sql(psiSql(s"SELECT source, q FROM $view"))
  }

  def psiDriftOracleSql: String =
    psiSql(s"SELECT source, ${LlmQueries.qualitySql} AS q FROM documents")

  /** q167's corpus baseline persisted AT REST: the zero-filled 10-row
    * quality-bin histogram — the reference distribution an ingest
    * monitor compares arrivals against without ever rescanning the
    * corpus. */
  def psiBaselineAtRest(spark: SparkSession, dir: String): DataFrame = {
    val table = "psi_baseline_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table) {
      val b = docs(spark, dir).select(LlmQueries.qualityCol.as("q"))
        .select(expr("CAST(least(floor(q * 10), 9) AS INT)").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c0"))
      spark.range(10).select(col("id").cast("int").as("bin"))
        .join(b, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("c0"), lit(0L)).as("c0"))
    }
  }

  /** PSI of one arriving batch against the stored baseline — a single
    * (n_docs, psi) row, q167's arithmetic (add-one smoothing, 1e-12
    * ln-term bridge). Pure DataFrame API so it runs under foreachBatch
    * clones; only the batch is scanned, the baseline is 10 rows. */
  def psiOfBatch(batch: DataFrame, baseline: DataFrame): DataFrame = {
    val bb = batch.select(LlmQueries.qualityCol.as("q"))
      .select(expr("CAST(least(floor(q * 10), 9) AS INT)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val grid = baseline
      .join(bb, Seq("bin"), "left")
      .select(col("c0"), coalesce(col("c"), lit(0L)).as("c"))
    val tot = grid.agg(
      sum(col("c")).as("nb"), sum(col("c0")).as("n0"))
    grid.crossJoin(broadcast(tot))
      .select(col("nb"),
        expr("CAST(c + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)").as("ps"),
        expr("CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 10 AS DOUBLE)").as("p0"))
      .select(col("nb"), expr(
        "CAST(floor((ps - p0) * ln(ps / p0) * 1e12 + 0.5) AS DECIMAL(38,0))")
        .as("t12"))
      .groupBy()
      .agg(min(col("nb")).cast("long").as("n_docs"),
        dround(sum(col("t12")).cast("double") / lit(1e12), 6).as("psi"))
  }

  // ---------------------------------------------------------------- q94
  /** Remaining rank-family window functions — percent_rank, cume_dist,
    * ntile, nth_value with an explicit ROWS frame — over a total
    * per-partition order (acctbal, custkey tiebreak), so every output is
    * deterministic and the fp ones are exact integer rationals. The SQL
    * is dialect-neutral: one string serves both engines. */
  def rankFuncsSql(table: String): String = {
    val w = "PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey"
    s"""
    SELECT c_custkey, c_mktsegment,
      percent_rank() OVER ($w) AS pr,
      cume_dist() OVER ($w) AS cd,
      CAST(ntile(4) OVER ($w) AS INT) AS quartile,
      nth_value(c_name, 2) OVER
        ($w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_name
    FROM $table ORDER BY c_custkey"""
  }

  def rankFuncs(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(rankFuncsSql("customer"))
  }

  // ---------------------------------------------------------------- q95
  /** Interval-overlap join via time-bucket explosion: each order's
    * [orderdate, +30d] activity window is exploded into the calendar
    * months it touches (≤ 2 buckets per row) and equi-joined against the
    * observed-month dimension — the scale-safe rewrite of a range
    * predicate join (no inequality join, no cross product; the bucket
    * count bounds the amplification). The oracle states the same
    * semantics AS the inequality join, so a hash match proves the bucket
    * rewrite exact. */
  def intervalMonthJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql("""
      SELECT month, count(1) AS n_orders FROM (
        SELECT explode(sequence(
          date_trunc('MONTH', o_orderdate),
          date_trunc('MONTH', o_orderdate + INTERVAL 30 DAYS),
          INTERVAL 1 MONTH)) AS month
        FROM orders) e
      WHERE month IN (SELECT DISTINCT date_trunc('MONTH', o_orderdate) FROM orders)
      GROUP BY month ORDER BY month""")
  }

  // ---------------------------------------------------------------- q96
  /** Robust location/scale stats: median + median absolute deviation per
    * group, both through the histogram-fed `percentile(v, p, freq)` form
    * (q46's move) — two tiny weighted percentiles over one (group, value)
    * hash agg instead of two corpus-wide sort-aggs. */
  def robustStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(s"""
      WITH h AS (
        SELECT l_returnflag, l_quantity AS q, count(1) AS cnt
        FROM lineitem GROUP BY l_returnflag, q),
      med AS (
        SELECT l_returnflag, percentile(q, 0.5, cnt) AS med
        FROM h GROUP BY l_returnflag),
      mad AS (
        SELECT h.l_returnflag, percentile(abs(h.q - m.med), 0.5, h.cnt) AS mad
        FROM h JOIN med m ON h.l_returnflag = m.l_returnflag
        GROUP BY h.l_returnflag)
      SELECT m.l_returnflag,
        ${droundSql("m.med", 6)} AS median_qty,
        ${droundSql("d.mad", 6)} AS mad_qty
      FROM med m JOIN mad d ON m.l_returnflag = d.l_returnflag
      ORDER BY m.l_returnflag""")
  }

  // ---------------------------------------------------------------- q97
  /** Recursive-CTE hierarchy traversal (WITH RECURSIVE landed in Spark
    * 4.x — SQL-surface parity with every warehouse engine): walk a
    * heap-shaped parent function (parent(k) = ⌊k/2⌋) over the supplier
    * dimension, emitting each node's depth. Dialect-neutral — one string
    * is both the Spark plan and the oracle. Scale note: Spark executes
    * recursion as iterative union materialization; it is the right tool
    * for hierarchy DIMENSIONS (org trees, category taxonomies — small),
    * while corpus-scale transitive closure goes through
    * [[graft.llm.Dedup.connectedComponents]]. */
  def recursiveHierarchySql(table: String): String = s"""
    WITH RECURSIVE r(key, depth) AS (
      SELECT s_suppkey, 0 FROM $table WHERE s_suppkey = 0
      UNION ALL
      SELECT s.s_suppkey, r.depth + 1
      FROM $table s JOIN r ON CAST(floor(s.s_suppkey / 2.0) AS BIGINT) = r.key
      WHERE s.s_suppkey <> 0)
    SELECT key, CAST(depth AS INT) AS depth FROM r ORDER BY key"""

  def recursiveHierarchy(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "supplier").createOrReplaceTempView("supplier")
    spark.sql(recursiveHierarchySql("supplier"))
  }

  // ---------------------------------------------------------------- q98
  /** Correlated LATERAL subquery — top-2 nations by customer balance
    * per region, the "for each outer row, run this ordered/limited
    * subquery" shape that window-function rewrites obscure. Decimal-exact
    * balance sums; dialect-neutral shared string. */
  def lateralTopkSql: String = s"""
    SELECT r_name, l.n_name, l.bal
    FROM region, LATERAL (
      SELECT n_name,
        CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,8))), 2) AS DOUBLE) AS bal
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      WHERE n_regionkey = r_regionkey
      GROUP BY n_name
      ORDER BY bal DESC, n_name
      LIMIT 2) l
    ORDER BY r_name, bal DESC, n_name"""

  def lateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation", "customer")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(lateralTopkSql)
  }

  // ---------------------------------------------------------------- q99
  /** grouping()/GROUPING metadata over ROLLUP — distinguishes "NULL
    * because subtotal" from "NULL in the data", the piece q16's
    * label-coalescing form leaves implicit. Shared dialect string. */
  def groupingIdSql(table: String): String = s"""
    SELECT CAST(grouping(l_returnflag) AS INT) AS gf,
      CAST(grouping(l_linestatus) AS INT) AS gs,
      l_returnflag, l_linestatus, count(1) AS n
    FROM $table
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY gf, gs, l_returnflag, l_linestatus"""

  def groupingId(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(groupingIdSql("lineitem"))
  }

  // --------------------------------------------------------------- q100
  /** Deterministic train/val/test split (8/1/1 by hash bucket): the
    * assignment is a pure function of doc_id — reproducible on any
    * partitioning, stable across reruns and engine versions, and
    * leakage-free (a doc can never migrate between splits when the
    * corpus grows, unlike ratio-based `randomSplit`). One narrow
    * projection, no shuffle at all. */
  def dataSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"), col("lang"),
      expr(s"CASE WHEN ${xhashExpr("concat('split:', CAST(doc_id AS STRING))")} % 10 <= 7 THEN 'train' " +
        s"WHEN ${xhashExpr("concat('split:', CAST(doc_id AS STRING))")} % 10 = 8 THEN 'val' " +
        "ELSE 'test' END").as("split"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q101
  /** Bigram-LM mean surprisal per document (bits/bigram) — the
    * perplexity-style fluency filter: a document whose bigrams are rare
    * under the corpus's own add-one-smoothed bigram model is boilerplate,
    * OCR noise, or wrong-language. Two exploded passes build the model
    * (bigram + unigram-history counts, both map-side-combining hash
    * aggs); docs join their bigram multiplicities against the model on
    * the bigram key. Per-bigram surprisal terms are decimal-bridged on a
    * 1e-6 grid before the per-doc sum (order-independent, q73/q90
    * precedent for `ln` determinism). */
  /** Shared per-bigram surprisal term (fp-critical, spelled once). */
  private val bigramTerm6Sql = "CAST(floor((0.0 - ln(CAST(c12 + 1 AS DOUBLE) / " +
    "CAST(c1 + v AS DOUBLE))) * 1e6 + 0.5) AS DECIMAL(38,0))"
  private val bigramOutSql = droundSql(
    "((CAST(sum(m * t6) AS DOUBLE) / 1e6) / CAST(sum(m) AS DOUBLE)) / ln(2.0)", 6)

  /** The bigram/unigram streams here are deliberately NOT persisted,
    * unlike q35's signature table: both explodes sit inside whole-stage
    * codegen feeding hash aggs directly, and materializing the ~1-row-
    * per-bigram intermediate to the cache was measured 2-3× slower than
    * recomputing the split (columnar cache build on short strings costs
    * more than the explode). At a corpus scale where the doubled scan
    * dominates cache bandwidth, persist `b` — the break-even is corpus
    * size vs memory bandwidth, not plan shape. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    val term6 = bigramTerm6Sql
    spark.sql(s"""
      WITH w AS (SELECT doc_id, ${wordsExpr("text")} AS w FROM documents),
      b AS (
        SELECT doc_id, explode(transform(sequence(2, size(w)),
          i -> concat(element_at(w, i - 1), ' ', element_at(w, i)))) AS bg
        FROM w WHERE size(w) >= 2),
      db AS (SELECT doc_id, bg, count(1) AS m FROM b GROUP BY doc_id, bg),
      cb AS (SELECT bg, count(1) AS c12 FROM b GROUP BY bg),
      u AS (SELECT explode(w) AS t FROM w),
      cu AS (SELECT t, count(1) AS c1 FROM u GROUP BY t),
      vc AS (SELECT count(DISTINCT t) AS v FROM u),
      scored AS (
        SELECT db.doc_id, db.m, $term6 AS t6
        FROM db
        JOIN cb ON db.bg = cb.bg
        JOIN cu ON split(db.bg, ' ')[0] = cu.t
        CROSS JOIN vc)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        $bigramOutSql AS surprisal_bits
      FROM scored GROUP BY doc_id
      ORDER BY doc_id""")
  }

  // --------------------------------------------------------------- q191
  /** HELD-OUT perplexity of the incoming batch under the corpus bigram
    * LM — q101's fluency filter turned into a proper train/eval split,
    * and the model-side twin of q189's gram novelty: the add-one
    * bigram model trains on the corpus (source ≠ BatchSource) with its
    * vocabulary FROZEN at train time, and every BatchSource doc scores
    * against that model alone. Batch bigrams or history words unseen
    * in training contribute through the smoothing (count 0 + 1), not
    * an inner-join drop — that is the entire point of evaluating held
    * out — and the unseen-bigram share is reported beside the
    * surprisal as `oov_rate`. High novelty (q189) + low surprisal =
    * genuinely fresh fluent text; high novelty + high surprisal =
    * noise — the two gauges together are the ingest triage. Same
    * decimal bridges and `ln` discipline as q101; the batch side joins
    * the train model on the bigram key, O(batch) beyond the one train
    * scan. */
  def heldoutPerplexity(spark: SparkSession, dir: String): DataFrame =
    heldoutPerplexityOf(docs(spark, dir), LlmQueries.BatchSource)

  /** [[heldoutPerplexity]] over an arbitrary (doc_id, text, source)
    * frame — the spec entry point. */
  def heldoutPerplexityOf(docsF: DataFrame, batchSrc: String): DataFrame = {
    val spark = docsF.sparkSession
    val dv = s"graft_ppl_docs_t${Thread.currentThread().getId}"
    docsF.createOrReplaceTempView(dv)
    val term6 = bigramTerm6Sql
    spark.sql(s"""
      WITH tw AS (SELECT doc_id, ${wordsExpr("text")} AS w FROM $dv
                  WHERE source <> '$batchSrc'),
      tb AS (
        SELECT explode(transform(sequence(2, size(w)),
          i -> concat(element_at(w, i - 1), ' ', element_at(w, i)))) AS bg
        FROM tw WHERE size(w) >= 2),
      cb AS (SELECT bg, count(1) AS c12 FROM tb GROUP BY bg),
      tu AS (SELECT explode(w) AS t FROM tw),
      cu AS (SELECT t, count(1) AS c1 FROM tu GROUP BY t),
      vc AS (SELECT count(DISTINCT t) AS v FROM tu),
      sw AS (SELECT doc_id, ${wordsExpr("text")} AS w FROM $dv
             WHERE source = '$batchSrc'),
      sb AS (
        SELECT doc_id, explode(transform(sequence(2, size(w)),
          i -> concat(element_at(w, i - 1), ' ', element_at(w, i)))) AS bg
        FROM sw WHERE size(w) >= 2),
      db AS (SELECT doc_id, bg, count(1) AS m FROM sb GROUP BY doc_id, bg),
      joined AS (
        SELECT db.doc_id, db.m,
          CAST(coalesce(cb.c12, 0) AS BIGINT) AS c12,
          CAST(coalesce(cu.c1, 0) AS BIGINT) AS c1,
          CASE WHEN cb.bg IS NULL THEN 1 ELSE 0 END AS oov
        FROM db
        LEFT JOIN cb ON db.bg = cb.bg
        LEFT JOIN cu ON split(db.bg, ' ')[0] = cu.t),
      scored AS (
        SELECT doc_id, m, oov, $term6 AS t6
        FROM joined CROSS JOIN vc)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        $bigramOutSql AS surprisal_bits,
        ${droundSql(
          "CAST(sum(m * oov) AS DOUBLE) / CAST(sum(m) AS DOUBLE)", 6)}
          AS oov_rate
      FROM scored GROUP BY doc_id
      ORDER BY doc_id""")
  }

  def heldoutPerplexitySql: String = s"""
      WITH tw AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents
                  WHERE source <> '${LlmQueries.BatchSource}'),
      tb AS (
        SELECT unnest(list_transform(range(2, len(w) + 1),
          i -> w[i - 1] || ' ' || w[i])) AS bg
        FROM tw WHERE len(w) >= 2),
      cb AS (SELECT bg, count(*) AS c12 FROM tb GROUP BY bg),
      tu AS (SELECT unnest(w) AS t FROM tw),
      cu AS (SELECT t, count(*) AS c1 FROM tu GROUP BY t),
      vc AS (SELECT count(DISTINCT t) AS v FROM tu),
      sw AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents
             WHERE source = '${LlmQueries.BatchSource}'),
      sb AS (
        SELECT doc_id, unnest(list_transform(range(2, len(w) + 1),
          i -> w[i - 1] || ' ' || w[i])) AS bg
        FROM sw WHERE len(w) >= 2),
      db AS (SELECT doc_id, bg, count(*) AS m FROM sb GROUP BY doc_id, bg),
      joined AS (
        SELECT db.doc_id, db.m,
          CAST(coalesce(cb.c12, 0) AS BIGINT) AS c12,
          CAST(coalesce(cu.c1, 0) AS BIGINT) AS c1,
          CASE WHEN cb.bg IS NULL THEN 1 ELSE 0 END AS oov
        FROM db
        LEFT JOIN cb ON db.bg = cb.bg
        LEFT JOIN cu ON string_split(db.bg, ' ')[1] = cu.t),
      scored AS (
        SELECT doc_id, m, oov, $bigramTerm6Sql AS t6
        FROM joined CROSS JOIN vc)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        $bigramOutSql AS surprisal_bits,
        ${droundSql(
          "CAST(sum(m * oov) AS DOUBLE) / CAST(sum(m) AS DOUBLE)", 6)}
          AS oov_rate
      FROM scored GROUP BY doc_id
      ORDER BY doc_id"""

  // ------------------------------------------------------------ wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_fuzzy_pairs"     -> fuzzyPairs _,
    "q86_snapshot_diff"   -> customerSnapshotDiff _,
    "q87_weighted_sample" -> weightedSample _,
    "q88_text_entropy"    -> textEntropy _,
    "q89_dist_shape"      -> distShape _,
    "q90_bm25_search"     -> bm25Search _,
    "q187_retrieval_ndcg" -> retrievalNdcg _,
    "q164_bm25_index_serve" -> bm25IndexServe _,
    "q150_hybrid_rrf"     -> hybridSearch _,
    "q91_numeric_hist"    -> numericHist _,
    "q92_semantic_dedup"  -> semanticDedup _,
    "q93_kl_drift"        -> klDrift _,
    "q167_psi_drift"      -> psiDrift _,
    "q177_phrase_search"  -> phraseSearch _,
    "q180_near_search"    -> nearSearch _,
    "q178_bm25_index_append" -> bm25IndexAppend _,
    "q218_bm25_index_delete" -> bm25IndexDelete _,
    "q241_bm25_index_update" -> bm25IndexUpdate _,
    "q242_bm25_index_purge"  -> bm25IndexPurge _,
    "q94_rank_funcs"      -> rankFuncs _,
    "q95_interval_join"   -> intervalMonthJoin _,
    "q96_robust_stats"    -> robustStats _,
    "q97_recursive_cte"   -> recursiveHierarchy _,
    "q98_lateral_topk"    -> lateralTopk _,
    "q99_grouping_id"     -> groupingId _,
    "q100_data_split"     -> dataSplit _,
    "q101_bigram_surprisal" -> bigramSurprisal _,
    "q191_heldout_ppl"    -> heldoutPerplexity _
  )

  val oracles: Map[String, String] = Map(
    "q85_fuzzy_pairs" -> Dedup.editDistancePairsSql(
      "documents", "doc_id", "text", FuzzyWidth, FuzzyMaxEdits, "id_a, id_b"),
    "q86_snapshot_diff" -> s"""
      WITH a AS (
        SELECT c_custkey, ${xhashSql(
          "c_name || '|' || c_nationkey::VARCHAR || '|' || " +
            "CAST(round(c_acctbal * 100) AS BIGINT)::VARCHAR")} AS vh
        FROM customer WHERE c_custkey % 10 <> 7),
      b AS (
        SELECT c_custkey, ${xhashSql(
          "c_name || '|' || c_nationkey::VARCHAR || '|' || " +
            "(CAST(round(c_acctbal * 100) AS BIGINT) + " +
            "CASE WHEN c_custkey % 10 = 3 THEN 10000 ELSE 0 END)::VARCHAR")} AS vh
        FROM customer WHERE c_custkey % 10 <> 5)
      SELECT c_custkey, status FROM (
        SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
          CASE WHEN a.c_custkey IS NULL THEN 'added'
               WHEN b.c_custkey IS NULL THEN 'removed'
               WHEN a.vh <> b.vh THEN 'changed'
               ELSE 'unchanged' END AS status
        FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
      WHERE status <> 'unchanged'
      ORDER BY c_custkey""",
    "q87_weighted_sample" -> s"""
      WITH w AS (
        SELECT doc_id, ${tokenCountSql("text")}::BIGINT AS w FROM documents),
      p AS (
        SELECT doc_id, w,
          ${xhashSql("'ps:' || doc_id::VARCHAR")}::DOUBLE / w::DOUBLE AS pri
        FROM w)
      SELECT doc_id, w, pri FROM p
      ORDER BY pri, doc_id LIMIT $SampleN""",
    "q88_text_entropy" -> s"""
      WITH uni AS (
        SELECT doc_id, unnest(${wordsSql("text")}) AS t FROM documents),
      uc AS (SELECT doc_id, t, count(*) AS c FROM uni GROUP BY doc_id, t),
      s AS (
        SELECT doc_id,
          CAST(sum(c) AS BIGINT) AS n_words,
          count(*) AS n_distinct,
          CAST(sum(c * c) AS BIGINT) AS s2,
          CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e8 + 0.5)
            AS DECIMAL(30,0))) AS DECIMAL(38,0)) AS s8
        FROM uc GROUP BY doc_id)
      SELECT doc_id, n_words, n_distinct,
        ${droundSql("(ln(CAST(n_words AS DOUBLE)) - " +
          "(CAST(s8 AS DOUBLE) / 1e8) / CAST(n_words AS DOUBLE)) / ln(2.0)", 6)}
          AS entropy_bits,
        ${droundSql("1.0 - CAST(s2 AS DOUBLE) / " +
          "(CAST(n_words AS DOUBLE) * CAST(n_words AS DOUBLE))", 6)}
          AS gini_simpson
      FROM s ORDER BY doc_id""",
    "q89_dist_shape" -> distShapeSql("lineitem"),
    "q90_bm25_search" -> s"""
      WITH $bm25RankedOracleCtes
      SELECT query_id, rk, doc_id, score FROM sparse
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""",
    // q164 serves the SAME contract from the at-rest index — one oracle,
    // two execution paths; the hash match proves the index lost nothing
    "q164_bm25_index_serve" -> s"""
      WITH $bm25RankedOracleCtes
      SELECT query_id, rk, doc_id, score FROM sparse
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""",
    "q150_hybrid_rrf" -> hybridSearchOracleSql,
    "q187_retrieval_ndcg" -> retrievalNdcgSql,
    "q91_numeric_hist" -> numericHistSql("lineitem"),
    "q92_semantic_dedup" -> s"""
      WITH comp AS (${Dedup.componentsSql(
        Similarity.cosineNearDupPairsSql("embeddings", "label", LlmQueries.EmbTau),
        "doc_id")})
      SELECT e.vec_id,
        coalesce(c.component, e.vec_id) AS component,
        (c.component IS NULL OR c.component = e.vec_id) AS keep
      FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.doc_id
      ORDER BY e.vec_id""",
    "q167_psi_drift" -> psiDriftOracleSql,
    "q177_phrase_search" -> phraseSearchOracleSql,
    "q180_near_search" -> nearSearchOracleSql,
    // same contract as q90/q164: the base+append composition must equal
    // the full-corpus BM25 answer bit for bit
    "q178_bm25_index_append" -> s"""
      WITH $bm25RankedOracleCtes
      SELECT query_id, rk, doc_id, score FROM sparse
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""",
    // the tombstoned serve must equal a full rebuild on the filtered corpus
    "q218_bm25_index_delete" -> s"""
      WITH live AS (SELECT * FROM documents
                    WHERE NOT (doc_id % $Bm25DelMod = $Bm25DelRem)),
      ${bm25RankedOracleCtesOn("live")}
      SELECT query_id, rk, doc_id, score FROM sparse
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""",
    // update o store == rebuild-with-revisions: the oracle substitutes
    // the cohort's revised text and replays full BM25
    "q241_bm25_index_update" -> bm25IndexUpdateOracleSql,
    // the physically-purged serve must equal the tombstone-view serve:
    // q218's oracle verbatim -- purge o publish == tombstone == rebuild
    "q242_bm25_index_purge" -> s"""
      WITH live AS (SELECT * FROM documents
                    WHERE NOT (doc_id % $Bm25DelMod = $Bm25DelRem)),
      ${bm25RankedOracleCtesOn("live")}
      SELECT query_id, rk, doc_id, score FROM sparse
      WHERE rk <= $Bm25TopK
      ORDER BY query_id, rk""",
    "q93_kl_drift" -> s"""
      WITH uni AS (
        SELECT source, unnest(${wordsSql("text")}) AS t FROM documents),
      cnt AS (SELECT source, t, count(*) AS c FROM uni GROUP BY source, t),
      nst AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY source),
      vocab AS (SELECT DISTINCT t FROM uni),
      vc AS (SELECT count(*) AS v FROM vocab),
      grid AS (
        SELECT s.source, vocab.t, coalesce(c.c, 0) AS c0, s.ns, vc.v
        FROM nst s CROSS JOIN vocab CROSS JOIN vc
        LEFT JOIN cnt c ON c.source = s.source AND c.t = vocab.t),
      p AS (SELECT source, t, $klPSql AS prob FROM grid),
      term AS (
        SELECT a.source AS source_a, b.source AS source_b,
          ${klTermSql.replace("pa", "a.prob").replace("pb", "b.prob")} AS k12
        FROM p a JOIN p b ON a.t = b.t AND a.source <> b.source)
      SELECT source_a, source_b, $klBitsSql AS kl_bits
      FROM term GROUP BY source_a, source_b
      ORDER BY source_a, source_b""",
    "q94_rank_funcs" -> rankFuncsSql("customer"),
    "q95_interval_join" -> """
      WITH months AS (
        SELECT DISTINCT date_trunc('month', o_orderdate) AS month FROM orders)
      SELECT m.month, count(*) AS n_orders
      FROM months m JOIN orders o
        ON o.o_orderdate < m.month + INTERVAL 1 MONTH
       AND o.o_orderdate + INTERVAL 30 DAY >= m.month
      GROUP BY m.month ORDER BY month""",
    "q96_robust_stats" -> s"""
      WITH med AS (
        SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag),
      mad AS (
        SELECT l.l_returnflag, quantile_cont(abs(l.l_quantity - m.med), 0.5) AS mad
        FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
        GROUP BY l.l_returnflag)
      SELECT m.l_returnflag,
        ${droundSql("m.med", 6)} AS median_qty,
        ${droundSql("d.mad", 6)} AS mad_qty
      FROM med m JOIN mad d ON m.l_returnflag = d.l_returnflag
      ORDER BY m.l_returnflag""",
    "q97_recursive_cte" -> recursiveHierarchySql("supplier"),
    "q98_lateral_topk" -> lateralTopkSql,
    "q99_grouping_id" -> groupingIdSql("lineitem"),
    "q100_data_split" -> s"""
      SELECT doc_id, lang,
        CASE WHEN ${xhashSql("'split:' || doc_id::VARCHAR")} % 10 <= 7 THEN 'train'
             WHEN ${xhashSql("'split:' || doc_id::VARCHAR")} % 10 = 8 THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""",
    "q101_bigram_surprisal" -> s"""
      WITH w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      b AS (
        SELECT doc_id, unnest(list_transform(range(2, len(w) + 1),
          i -> w[i - 1] || ' ' || w[i])) AS bg
        FROM w WHERE len(w) >= 2),
      db AS (SELECT doc_id, bg, count(*) AS m FROM b GROUP BY doc_id, bg),
      cb AS (SELECT bg, count(*) AS c12 FROM b GROUP BY bg),
      u AS (SELECT unnest(w) AS t FROM w),
      cu AS (SELECT t, count(*) AS c1 FROM u GROUP BY t),
      vc AS (SELECT count(DISTINCT t) AS v FROM u),
      scored AS (
        SELECT db.doc_id, db.m, $bigramTerm6Sql AS t6
        FROM db
        JOIN cb ON db.bg = cb.bg
        JOIN cu ON string_split(db.bg, ' ')[1] = cu.t
        CROSS JOIN vc)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        $bigramOutSql AS surprisal_bits
      FROM scored GROUP BY doc_id
      ORDER BY doc_id""",
    "q191_heldout_ppl" -> heldoutPerplexitySql
  )
}
