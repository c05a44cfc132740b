package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Determinism._
import graft.functions.TextFunctions._

/** The span-dedup and corpus-cut family, split from [[LlmQueries]]:
  * curriculum order and per-source impact (q165/q160), the Lee et al.
  * cross-doc span profile, executable cut and intra-doc cut
  * (q162/q168/q184), the cleaning funnel and gram-novelty gauge
  * (q190/q189), and epoch shuffle / script profile (q185/q188). */
private[graft] trait LlmSpanDedupOps { this: LlmQueries.type =>

  // ---------------------------------------------------------------- q165
  /** Quality-curriculum training order — the standard data-schedule
    * construction (best data first, source mixture held uniform across
    * the whole schedule): rank docs by q31's composite quality WITHIN
    * each source, then interleave sources round-robin by that rank. Both
    * ranks are scale-safe: the within-source rank uses the new
    * [[DistributedRank.rankWithin]] (bucketed keyed two-pass — a
    * dominant source never becomes one task's sort, which is exactly
    * what `OVER (PARTITION BY source)` degenerates to on a skewed
    * corpus), and the global interleave position reuses
    * [[DistributedRank.rankOnly]] on (src_rank, source). The oracle
    * spells both as plain windows — the hash match proves the
    * distributed rewrite is bit-identical. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame =
    curriculumOrderOf(docs(spark, dir))

  /** [[curriculumOrder]] over an arbitrary (doc_id, text, source) frame
    * — the composition entry point (cleaned corpora, filtered slices). */
  def curriculumOrderOf(docsDf: DataFrame): DataFrame = {
    val d = docsDf
      .select(col("doc_id"), col("source"), qualityCol.as("quality"))
      .transform(graft.core.EngineCache.persisted)
    // r13: the within-source rank is persisted before the global
    // interleave rank reads it — rankOnly runs THREE eager jobs over its
    // input (count, boundary sample, per-bucket counts) before the lazy
    // window, so an unpersisted `ranked` re-executed the corpus-wide
    // rankWithin chain four times (those jobs + the final consume). The
    // cache is (doc_id, source, quality, src_rank) — one narrow row per
    // corpus doc, the same frame the result carries anyway.
    val ranked = graft.core.EngineCache.persisted(
      DistributedRank.rankWithin(
        d, "source", "src_rank", "quality", desc = true,
        col("quality").desc, col("doc_id")))
    val pos = DistributedRank.rankOnly(
      ranked, "global_pos", "src_rank", desc = false,
      col("src_rank"), col("source"))
    pos.select(col("global_pos"), col("doc_id"), col("source"),
        col("src_rank"), col("quality"))
      .orderBy("global_pos")
  }

  def curriculumOrderSql: String = s"""
      WITH q AS (
        SELECT doc_id, source, $qualitySql AS quality FROM documents),
      r AS (
        SELECT doc_id, source, quality,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id) AS BIGINT) AS src_rank
        FROM q)
      SELECT
        CAST(row_number() OVER (ORDER BY src_rank, source) AS BIGINT)
          AS global_pos,
        doc_id, source, src_rank, quality
      FROM r ORDER BY global_pos"""

  // ---------------------------------------------------------------- q160
  /** Dedup impact report — the ROI readout every dedup pipeline owes
    * its operator: per source, how many docs and tokens the full
    * exact+near dedup (q74's surviving corpus, riding the q144 at-rest
    * pair table) actually removed, as exact counts and retention
    * shares. A source with low retention is a mirror/template farm; a
    * source near 1.0 contributes genuinely novel text. One hash agg
    * over the corpus joined to the O(survivors) keep set — O(|sources|)
    * output at any scale. */
  def dedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        tokenCount("text").cast("long").as("tok"))
    val surv = dedupCorpus(spark, dir).select(col("doc_id"))
      .withColumn("kept", lit(1L))
    d.join(surv, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept").isNotNull, 1L).otherwise(0L)).as("n_docs_kept"),
        sum(col("tok")).as("n_tokens"),
        sum(when(col("kept").isNotNull, col("tok")).otherwise(0L))
          .as("n_tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_docs_kept"),
        col("n_tokens"), col("n_tokens_kept"),
        dround(col("n_docs_kept").cast("double") /
          col("n_docs").cast("double"), 6).as("doc_retention"),
        dround(col("n_tokens_kept").cast("double") /
          col("n_tokens").cast("double"), 6).as("token_retention"))
      .orderBy("source")
  }

  def dedupImpactSql: String = s"""
      $dedupSurvivorsOracleCtes,
      d AS (
        SELECT doc_id, source, ${tokenCountSql("text")}::BIGINT AS tok
        FROM documents)
      SELECT d.source, count(*)::BIGINT AS n_docs,
        count(s.doc_id)::BIGINT AS n_docs_kept,
        sum(tok)::BIGINT AS n_tokens,
        coalesce(sum(CASE WHEN s.doc_id IS NOT NULL THEN tok END), 0)::BIGINT
          AS n_tokens_kept,
        ${droundSql(
          "count(s.doc_id)::DOUBLE / count(*)::DOUBLE", 6)} AS doc_retention,
        ${droundSql(
          "coalesce(sum(CASE WHEN s.doc_id IS NOT NULL THEN tok END), 0)::DOUBLE" +
            " / sum(tok)::DOUBLE", 6)} AS token_retention
      FROM d LEFT JOIN surv s ON d.doc_id = s.doc_id
      GROUP BY d.source
      ORDER BY d.source"""

  // ---------------------------------------------------------------- q162
  /** Cross-document duplicate-substring profile — span-level exact dedup
    * in the shape of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), whose suffix-array pass finds verbatim
    * runs repeated across documents, re-expressed Spark-first: every
    * K-token positional gram is reduced to an 8-byte cross-engine hash
    * ([[graft.core.Determinism.xhashExpr]]) so the only corpus-sized
    * shuffle carries (doc_id, pos, ghash) and never the gram text; grams
    * seen in ≥2 DISTINCT docs (within-doc repetition is q56's metric)
    * mark their [pos, pos+K-1] token spans duplicated; per doc the spans
    * are merged by the q129 gaps-and-islands interval union (adjacent
    * spans fuse, so a repeated run of any length ≥ K is counted once,
    * exactly — overlapping grams chain through the union). No suffix
    * array needed: a hash agg + one doc-partitioned window is the whole
    * plan, which is why it survives 100 TB. Output: the span-removal
    * work list — per affected doc, how many tokens a cut pass deletes. */
  val SubdupK = 8
  /** The island-merge CTE block (w2 → isl → m) shared by q162's profile
    * and q168's executable span cut; expects an `sp(doc_id, n_tokens,
    * s, e)` relation in scope. */
  private[operators] def subdupIslandCtes: String = s"""
    w2 AS (
      SELECT doc_id, n_tokens, s, e,
        max(e) OVER (PARTITION BY doc_id ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM sp),
    isl AS (
      SELECT doc_id, n_tokens, s, e,
        CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS island
      FROM w2),
    m AS (
      SELECT doc_id, n_tokens, island,
        min(s) AS i_s, max(e) AS i_e
      FROM isl GROUP BY doc_id, n_tokens, island)"""

  private[operators] def subdupIslandTail: String = s"""
    $subdupIslandCtes
    SELECT doc_id, n_tokens,
      CAST(count(1) AS BIGINT) AS dup_spans,
      CAST(sum(i_e - i_s + 1) AS BIGINT) AS dup_tokens,
      ${droundSql(
        "CAST(sum(i_e - i_s + 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)",
        6)} AS dup_frac
    FROM m GROUP BY doc_id, n_tokens
    ORDER BY doc_id"""

  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupOf(docs(spark, dir))

  /** Register the base docs view + the persisted positional-gram-hash
    * view for `docsDf`; returns (baseView, gramsView). Grams persist
    * once: both the ≥2-docs gram filter and the span join consume the
    * frame, and Spark would otherwise re-tokenize the corpus for each. */
  private[operators] def subdupGramsView(docsDf: DataFrame): (String, String) = {
    val spark = docsDf.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val view = s"graft_subdup_docs_t${Thread.currentThread().getId}"
    docsDf.createOrReplaceTempView(view)
    // r14: per-gram `xhash(concat_ws(' ', slice(w, pos, K)))` on the
    // exploded rows → the fused `word_gram_hashes` kernel on the packed
    // row (one byte-extract per word, one digest sweep per gram; the
    // SQL form paid a slice + concat_ws string + hex/conv/cast per
    // gram). posexplode yields pos = index + 1 over exactly the same
    // 1..size−K+1 range (short docs → empty array → no rows, matching
    // the old CASE guard); values are property-asserted bit-equal in
    // DedupSpec, and the oracle keeps the composable spelling.
    spark.sql(s"""
      WITH d AS (SELECT doc_id, ${wordsExpr("text")} AS w FROM $view)
      SELECT doc_id, CAST(size(w) AS INT) AS n_tokens,
        CAST(p0 + 1 AS INT) AS pos, ghash
      FROM d LATERAL VIEW posexplode(word_gram_hashes(w, $SubdupK)) AS p0, ghash""")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(s"${view}_grams")
    (view, s"${view}_grams")
  }

  /** The df (≥2-docs grams) + sp (dup spans) CTE pair over a grams
    * view — shared by q162 (all occurrences: the coverage PROFILE) and
    * q168 (`keepFirst`: the min-doc_id holder of each gram is its
    * canonical copy and keeps it — the Lee et al. "all but one" cut). */
  private[operators] def subdupSpanCtes(g: String, keepFirst: Boolean = false): String = {
    val skip = if (keepFirst) " AND gg.doc_id <> df.keeper" else ""
    s"""
      df AS (
        SELECT ghash, CAST(min(doc_id) AS BIGINT) AS keeper
        FROM $g GROUP BY ghash
        HAVING count(DISTINCT doc_id) >= 2),
      sp AS (
        SELECT gg.doc_id, gg.n_tokens, gg.pos AS s,
          gg.pos + ${SubdupK - 1} AS e
        FROM $g gg JOIN df ON gg.ghash = df.ghash$skip)"""
  }

  /** [[substringDedup]] over an arbitrary (doc_id, text) frame — the
    * spec entry point (planted shared runs → exact span boundaries). */
  def substringDedupOf(docsDf: DataFrame): DataFrame = {
    val (_, g) = subdupGramsView(docsDf)
    docsDf.sparkSession.sql(s"""
      WITH ${subdupSpanCtes(g)},
      $subdupIslandTail""")
  }

  // ---------------------------------------------------------------- q168
  /** Executable duplicate-span CUT — q162's work list turned into the
    * cleaned corpus itself, with Lee et al.'s "all but one" semantics:
    * each duplicate gram's min-doc_id holder is its canonical copy and
    * KEEPS the text; every other occurrence is covered by a cut span
    * (so a doc pair sharing a run loses it once, never twice, and a
    * fully-duplicated doc drops only if every one of its grams is
    * canonical elsewhere). Survivors re-join in position order into the
    * cleaned text (whitespace-normalized, as any span cut must be). The
    * anti join is doc-keyed with a per-doc range predicate against the
    * O(spans) island list; the rebuild is one doc-keyed hash agg over
    * (pos, word) structs — no window over the corpus, no driver text
    * handling, so the pass that writes a 100 TB cleaned corpus is
    * scan → two hash joins → hash agg. Output: the cleaned corpus. */
  def dedupClean(spark: SparkSession, dir: String): DataFrame =
    dedupCleanOf(docs(spark, dir))

  /** The survivor-rebuild tail (tok → t → kept → cleaned text) shared
    * by q168 and q184; expects an `m(doc_id, i_s, i_e)` island relation
    * in scope. */
  private[operators] def subdupRebuildTail(base: String): String = s"""
      tok AS (
        SELECT doc_id, w, posexplode(w) AS (p, word)
        FROM (SELECT doc_id, ${wordsExpr("text")} AS w FROM $base)),
      t AS (SELECT doc_id, CAST(size(w) AS INT) AS n_tokens,
              p + 1 AS pos, word FROM tok),
      kept AS (
        SELECT t.doc_id, t.n_tokens, t.pos, t.word
        FROM t LEFT JOIN m ON m.doc_id = t.doc_id
          AND t.pos BETWEEN m.i_s AND m.i_e
        WHERE m.i_s IS NULL)
      SELECT doc_id, CAST(min(n_tokens) AS INT) AS n_tokens,
        CAST(count(1) AS BIGINT) AS kept_tokens,
        array_join(transform(array_sort(collect_list(struct(pos, word))),
          s -> s.word), ' ') AS clean_text
      FROM kept GROUP BY doc_id ORDER BY doc_id"""

  def dedupCleanOf(docsDf: DataFrame): DataFrame = {
    val (base, g) = subdupGramsView(docsDf)
    docsDf.sparkSession.sql(s"""
      WITH ${subdupSpanCtes(g, keepFirst = true)},
      $subdupIslandCtes,
      ${subdupRebuildTail(base)}""")
  }

  // ---------------------------------------------------------------- q184
  /** WITHIN-document repetition cut — the intra-doc complement to
    * q168's cross-doc span cut (which deliberately ignores within-doc
    * repeats): any K-token gram occurring at ≥2 positions in the SAME
    * doc keeps its FIRST occurrence and every later occurrence falls
    * in a cut span; overlapping spans chain through the q129 island
    * union, so a PERIODIC run collapses to its leading period ("abc"
    * × 10 → "abc", "a" × 50 → "a") — the template/boilerplate-loop
    * scrub Gopher's repetition signals (q56) only measure. Spans
    * never start at position 1 (a gram at pos 1 is always its hash's
    * keeper), so every doc keeps ≥1 token. Same plan skeleton as
    * q168 — the persisted gram frame, one doc-keyed window for the
    * island union, a doc-keyed range anti join, one rebuild agg — so
    * the same 100 TB argument applies verbatim; the df/sp stage
    * groups by (doc, hash) instead of hash alone, which SHRINKS the
    * shuffle (no cross-doc gram fan-in at all). */
  def intradocDedup(spark: SparkSession, dir: String): DataFrame =
    intradocDedupOf(docs(spark, dir))

  def intradocDedupOf(docsDf: DataFrame): DataFrame = {
    val (base, g) = subdupGramsView(docsDf)
    docsDf.sparkSession.sql(s"""
      WITH dfw AS (
        SELECT doc_id, ghash, CAST(min(pos) AS INT) AS keeper
        FROM $g GROUP BY doc_id, ghash HAVING count(1) >= 2),
      sp AS (
        SELECT gg.doc_id, gg.n_tokens, gg.pos AS s,
          gg.pos + ${SubdupK - 1} AS e
        FROM $g gg JOIN dfw ON gg.doc_id = dfw.doc_id
          AND gg.ghash = dfw.ghash AND gg.pos <> dfw.keeper),
      $subdupIslandCtes,
      ${subdupRebuildTail(base)}""")
  }

  def intradocDedupSql: String = s"""
      WITH d AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      e AS (
        SELECT doc_id, len(w)::INT AS n_tokens, w,
          unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM d),
      g AS (
        SELECT doc_id, n_tokens, pos,
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM e),
      dfw AS (
        SELECT doc_id, ghash, CAST(min(pos) AS INT) AS keeper
        FROM g GROUP BY doc_id, ghash HAVING count(*) >= 2),
      sp AS (
        SELECT g.doc_id, g.n_tokens, g.pos AS s,
          g.pos + ${SubdupK - 1} AS e
        FROM g JOIN dfw ON g.doc_id = dfw.doc_id
          AND g.ghash = dfw.ghash AND g.pos <> dfw.keeper),
      $subdupIslandCtes,
      tokpos AS (
        SELECT doc_id, len(w)::INT AS n_tokens,
          unnest(range(1, len(w) + 1))::INT AS pos, w
        FROM d),
      t AS (SELECT doc_id, n_tokens, pos, w[pos] AS word FROM tokpos),
      kept AS (
        SELECT t.doc_id, t.n_tokens, t.pos, t.word
        FROM t LEFT JOIN m ON m.doc_id = t.doc_id
          AND t.pos BETWEEN m.i_s AND m.i_e
        WHERE m.i_s IS NULL)
      SELECT doc_id, min(n_tokens)::INT AS n_tokens,
        count(*)::BIGINT AS kept_tokens,
        string_agg(word, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id ORDER BY doc_id"""

  def dedupCleanSql: String = dedupCleanSqlFrom("documents")

  /** [[dedupCleanSql]] over an arbitrary (doc_id, text) relation —
    * q190's funnel runs the cut on the DEDUP SURVIVORS, not the raw
    * corpus. */
  def dedupCleanSqlFrom(rel: String): String = s"""
      WITH d AS (SELECT doc_id, ${wordsSql("text")} AS w FROM $rel),
      e AS (
        SELECT doc_id, len(w)::INT AS n_tokens, w,
          unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM d),
      g AS (
        SELECT doc_id, n_tokens, pos,
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM e),
      df AS (
        SELECT ghash, CAST(min(doc_id) AS BIGINT) AS keeper
        FROM g GROUP BY ghash
        HAVING count(DISTINCT doc_id) >= 2),
      sp AS (
        SELECT g.doc_id, g.n_tokens, g.pos AS s,
          g.pos + ${SubdupK - 1} AS e
        FROM g JOIN df ON g.ghash = df.ghash AND g.doc_id <> df.keeper),
      $subdupIslandCtes,
      tokpos AS (
        SELECT doc_id, len(w)::INT AS n_tokens,
          unnest(range(1, len(w) + 1))::INT AS pos, w
        FROM d),
      t AS (SELECT doc_id, n_tokens, pos, w[pos] AS word FROM tokpos),
      kept AS (
        SELECT t.doc_id, t.n_tokens, t.pos, t.word
        FROM t LEFT JOIN m ON m.doc_id = t.doc_id
          AND t.pos BETWEEN m.i_s AND m.i_e
        WHERE m.i_s IS NULL)
      SELECT doc_id, min(n_tokens)::INT AS n_tokens,
        count(*)::BIGINT AS kept_tokens,
        string_agg(word, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------------- q190
  /** The corpus cleaning FUNNEL — the end-to-end per-source readout a
    * data lead looks at before a training run: raw volume → exact+near
    * dedup survivors (q74's keep set) → tokens left after the
    * duplicate-span cut applied to those survivors (q168's pass, run
    * on the deduped corpus the way a real pipeline stages it) → docs
    * and tokens clearing the q31 quality floor. One row per source,
    * every figure an exact integer, so the funnel doubles as the
    * reconciliation check between the stages it composes (each number
    * is BY CONSTRUCTION ≤ the one before it in token terms). The
    * oracle replays the full survivor chain, the span cut over the
    * survivor relation, and the quality rule — the deepest composed
    * gate in the suite: five operators, one hash compare. */
  def corpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val surv = dedupCorpus(spark, dir)
      .select(col("doc_id"), lit(1L).as("s"))
    val cut = dedupCleanOf(
      d.join(surv.select("doc_id"), Seq("doc_id")).select("doc_id", "text"))
      .select(col("doc_id"), col("kept_tokens"))
    d.select(col("source"), col("doc_id"),
        tokenCount("text").cast("long").as("toks"),
        (qualityCol >= 0.35).cast("long").as("qok"))
      .join(surv, Seq("doc_id"), "left")
      .join(cut, Seq("doc_id"), "left")
      .select(col("source"), col("toks"), col("qok"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_docs_raw"),
        sum(col("toks")).cast("long").as("n_tokens_raw"),
        sum(col("s")).cast("long").as("n_docs_dedup"),
        sum(col("s") * col("toks")).cast("long").as("n_tokens_dedup"),
        sum(col("kept")).cast("long").as("n_tokens_cut"),
        sum(when(col("s") === 1 && col("qok") === 1 && col("kept") > 0, 1L)
          .otherwise(0L)).cast("long").as("n_docs_final"),
        sum(when(col("s") === 1 && col("qok") === 1, col("kept"))
          .otherwise(0L)).cast("long").as("n_tokens_final"))
      .orderBy(col("source"))
  }

  def corpusFunnelSql: String = {
    val tokens = s"${tokenCountSql("text")}::DOUBLE"
    val punctR = s"${punctCountSql("text")}::DOUBLE / length(text)"
    val stopR =
      s"${lexiconHitsSql("text", EnglishStopwords)}::DOUBLE / ($tokens)"
    val score = droundSql(
      s"least($tokens / 100.0, 1.0) * 0.4 + (1.0 - ($punctR)) * 0.3 + " +
        s"($stopR) * 0.3", 6)
    s"""
      $dedupSurvivorsOracleCtes,
      sd AS (SELECT d.doc_id, d.text FROM documents d
             JOIN surv s ON d.doc_id = s.doc_id),
      cutres AS (${dedupCleanSqlFrom("sd")}),
      base AS (
        SELECT d.source,
          CAST(${tokenCountSql("text")} AS BIGINT) AS toks,
          CASE WHEN $score >= 0.35 THEN 1 ELSE 0 END AS qok,
          CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS s,
          CAST(coalesce(c.kept_tokens, 0) AS BIGINT) AS kept
        FROM documents d
        LEFT JOIN surv s ON d.doc_id = s.doc_id
        LEFT JOIN cutres c ON d.doc_id = c.doc_id)
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs_raw,
        CAST(sum(toks) AS BIGINT) AS n_tokens_raw,
        CAST(sum(s) AS BIGINT) AS n_docs_dedup,
        CAST(sum(s * toks) AS BIGINT) AS n_tokens_dedup,
        CAST(sum(kept) AS BIGINT) AS n_tokens_cut,
        CAST(sum(CASE WHEN s = 1 AND qok = 1 AND kept > 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_final,
        CAST(sum(CASE WHEN s = 1 AND qok = 1 THEN kept ELSE 0 END)
          AS BIGINT) AS n_tokens_final
      FROM base GROUP BY source ORDER BY source"""
  }

  // ---------------------------------------------------------------- q189
  /** Gram-novelty of an incoming batch against the corpus at rest —
    * the ingest "newness" gauge a crawl pipeline reads before paying
    * for a full dedup pass: per batch doc, the fraction of its
    * DISTINCT K-token gram hashes absent from the stored corpus gram
    * set (q171's at-rest table, 8 bytes per unique gram). A mirror or
    * re-crawl scores ≈ 0, genuinely fresh text ≈ 1, and a
    * boilerplate-wrapped page sits in between — the number that
    * decides whether an incoming source is worth processing at all.
    * One anti-join-shaped left join of O(batch) gram hashes against
    * the shard-pruned stored set; the corpus is never re-tokenized
    * (the same frozen-artifact discipline as q171's span increment). */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame =
    gramNoveltyOf(
      docs(spark, dir).filter(col("source") === BatchSource),
      corpusGramsAtRest(spark, dir))

  /** [[gramNovelty]] over an arbitrary batch frame + stored gram set —
    * the spec and foreachBatch entry point. */
  def gramNoveltyOf(batchDocs: DataFrame, corpusGrams: DataFrame): DataFrame = {
    val spark = batchDocs.sparkSession
    val (_, bg) = subdupGramsView(batchDocs)
    spark.table(bg).select(col("doc_id"), col("ghash")).distinct()
      .join(corpusGrams.select(col("ghash")).withColumn("seen", lit(1)),
        Seq("ghash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("novel_grams"))
      .select(col("doc_id"), col("n_grams"), col("novel_grams"),
        dround(col("novel_grams").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  def gramNoveltySql: String = s"""
      WITH bd AS (SELECT doc_id, ${wordsSql("text")} AS w
                  FROM documents WHERE source = '$BatchSource'),
      be AS (
        SELECT doc_id, w,
          unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM bd),
      bg AS (
        SELECT DISTINCT doc_id,
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM be),
      cd AS (SELECT doc_id, ${wordsSql("text")} AS w
             FROM documents WHERE source <> '$BatchSource'),
      ce AS (
        SELECT doc_id, w,
          unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM cd),
      cg AS (
        SELECT DISTINCT
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM ce)
      SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN cg.ghash IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS novel_grams,
        ${droundSql(
          "CAST(sum(CASE WHEN cg.ghash IS NULL THEN 1 ELSE 0 END) AS DOUBLE)" +
            " / CAST(count(*) AS DOUBLE)", 6)} AS novelty
      FROM bg LEFT JOIN cg ON bg.ghash = cg.ghash
      GROUP BY bg.doc_id
      ORDER BY bg.doc_id"""

  // ---------------------------------------------------------------- q185
  /** Deterministic per-epoch training shuffle + token-balanced shard
    * assignment — the data-loader order a trainer actually consumes.
    * Each epoch permutes the corpus by a pure hash of (epoch, doc_id):
    * RNG-free, partitioning-invariant, different every epoch, and
    * reproducible from the doc ids alone. Shards are TOKEN-balanced,
    * not count-balanced: shard = ⌊tokens-before / ⌈total/S⌉⌋, so every
    * shard carries an equal token budget (±1 doc) and no trainer rank
    * idles on short documents. The tokens-before scan is the new
    * [[DistributedRank.rankAndScanWithin]] — a bucketed two-pass
    * distributed PREFIX SUM (per-(epoch, bucket) exact int64 sums,
    * driver-side offsets, one keyed window) — never the
    * single-partition `SUM OVER (ORDER BY)` window the oracle spells,
    * and the hash match proves the scan rewrite bit-identical. Output:
    * the full (epoch, position, doc, shard) assignment table. */
  val ShuffleEpochs = 2
  val ShuffleShards = 8

  def epochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffleOf(docs(spark, dir))

  def epochShuffleOf(docsF: DataFrame): DataFrame = {
    val spark = docsF.sparkSession
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val base = docsF
      .selectExpr("doc_id",
        s"CAST(size(${wordsExpr("text")}) AS BIGINT) AS n_tokens")
      .crossJoin(spark.sql(
        s"SELECT explode(sequence(1, $ShuffleEpochs)) AS epoch"))
      .selectExpr("epoch", "doc_id", "n_tokens",
        xhashExpr("concat('shuf:', CAST(epoch AS STRING), ':', " +
          "CAST(doc_id AS STRING))") + " AS okey")
    val ranked = DistributedRank.rankAndScanWithin(
      base, "epoch", "pos", "tok_before", "n_tokens",
      "okey", desc = false, col("okey"), col("doc_id"))
    val totals = base.groupBy(col("epoch"))
      .agg(sum(col("n_tokens")).as("tot"))
    ranked.join(bcast(totals), "epoch")
      .selectExpr("CAST(epoch AS INT) AS epoch", "pos", "doc_id",
        "n_tokens",
        s"""CAST(least($ShuffleShards - 1,
          tok_before div ((tot + $ShuffleShards - 1) div $ShuffleShards))
          AS INT) AS shard""")
      .orderBy(col("epoch"), col("pos"))
  }

  def epochShuffleSql: String = s"""
      WITH base AS (
        SELECT doc_id,
          CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      eps AS (SELECT unnest(range(1, ${ShuffleEpochs + 1}))::INT AS epoch),
      keyed AS (
        SELECT epoch, doc_id, n_tokens,
          ${xhashSql("'shuf:' || epoch || ':' || doc_id")} AS okey
        FROM base CROSS JOIN eps),
      r AS (
        SELECT epoch, doc_id, n_tokens,
          CAST(row_number() OVER (PARTITION BY epoch
            ORDER BY okey, doc_id) AS BIGINT) AS pos,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY epoch
            ORDER BY okey, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tok_before,
          CAST(sum(n_tokens) OVER (PARTITION BY epoch) AS BIGINT) AS tot
        FROM keyed)
      SELECT epoch, pos, doc_id, n_tokens,
        CAST(least($ShuffleShards - 1,
          tok_before // ((tot + ${ShuffleShards - 1}) // $ShuffleShards))
          AS INT) AS shard
      FROM r ORDER BY epoch, pos"""

  // ---------------------------------------------------------------- q188
  /** Unicode script / codepoint-class profile — the triage pass a
    * multilingual crawl needs before q32's n-gram language ID can even
    * apply (n-gram LID assumes you already know the script): per doc,
    * codepoint counts for Latin, digits, whitespace, CJK, Cyrillic,
    * Greek, Arabic, and the remainder, plus the dominant script with a
    * deterministic tie rule (highest count, alphabetical on ties,
    * 'none' when no script chars at all). Counts come from
    * length-after-scrub (len(text) − len(regexp_replace(class, ''))) —
    * one codegen'd projection, no explode, no shuffle beyond the scan;
    * ranges are BMP so both engines count codepoints identically. */
  private[operators] val ScriptClasses: Seq[(String, String)] = Seq(
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "latin" -> "[A-Za-z]")

  def scriptProfile(spark: SparkSession, dir: String): DataFrame =
    scriptProfileOf(docs(spark, dir))

  def scriptProfileOf(docsF: DataFrame): DataFrame = {
    val spark = docsF.sparkSession
    val dv = s"graft_script_docs_t${Thread.currentThread().getId}"
    docsF.createOrReplaceTempView(dv)
    // Spark SQL string literals process backslash escapes, so the regex
    // backslashes double here; DuckDB literals are raw (see the *Sql twin)
    def cnt(re: String) = {
      val esc = re.replace("\\", "\\\\")
      s"CAST(length(text) - length(regexp_replace(text, '$esc', '')) AS BIGINT)"
    }
    val classCols = ScriptClasses.map { case (n, re) => s"${cnt(re)} AS $n" }
    val scripts = ScriptClasses.map(_._1)
    val dominant = scripts.map { s =>
      val geAll = scripts.filter(_ != s).map(o => s"$s >= $o").mkString(" AND ")
      s"WHEN $s > 0 AND $geAll THEN '$s'"
    }.mkString(" ")
    spark.sql(s"""
      SELECT doc_id, n_chars, ${scripts.mkString(", ")}, n_digit, n_space,
        n_chars - (${scripts.mkString(" + ")} + n_digit + n_space) AS n_other,
        CASE $dominant ELSE 'none' END AS dominant_script
      FROM (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          ${classCols.mkString(", ")},
          ${cnt("[0-9]")} AS n_digit,
          ${cnt("\\s")} AS n_space
        FROM $dv) z
      ORDER BY doc_id""")
  }

  def scriptProfileSql: String = {
    def cnt(re: String) =
      s"CAST(length(text) - length(regexp_replace(text, '$re', '', 'g')) AS BIGINT)"
    val classCols = ScriptClasses.map { case (n, re) => s"${cnt(re)} AS $n" }
    val scripts = ScriptClasses.map(_._1)
    val dominant = scripts.map { s =>
      val geAll = scripts.filter(_ != s).map(o => s"$s >= $o").mkString(" AND ")
      s"WHEN $s > 0 AND $geAll THEN '$s'"
    }.mkString(" ")
    s"""
      SELECT doc_id, n_chars, ${scripts.mkString(", ")}, n_digit, n_space,
        n_chars - (${scripts.mkString(" + ")} + n_digit + n_space) AS n_other,
        CASE $dominant ELSE 'none' END AS dominant_script
      FROM (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          ${classCols.mkString(", ")},
          ${cnt("[0-9]")} AS n_digit,
          ${cnt("\\s")} AS n_space
        FROM documents) z
      ORDER BY doc_id"""
  }

}
