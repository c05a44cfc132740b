package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Determinism._
import graft.core.Tables
import graft.functions.{GraftFunctions, TextFunctions}
import graft.functions.TextFunctions._
import graft.llm.{Dedup, Packing, Similarity}


/** The LLM-training-data operator inventory as driver-checkable queries:
  * text analysis, every dedup variant, similarity search, multimodal
  * metadata (SURVEY.md §2 Part B last row + the north-star extensions).
  * Constants here parameterize BOTH the Spark plan and the generated
  * DuckDB oracle, so candidate sets match exactly.
  */
object LlmQueries extends LlmAtRestOps with LlmSpanDedupOps
    with LlmSamplingOps {

  // Shared tuning constants (Spark plan ⟷ oracle SQL)
  val WordShingleN = 3
  val MinhashK = 8
  val MinhashBands = 4
  val MinhashTau = 0.5
  val CharNgramN = 4
  // 2 bands × 8 rows: LSH S-curve threshold (1/b)^(1/r) ≈ 0.92. Char
  // 4-grams of same-language text share ~0.45 Jaccard at baseline, so
  // short bands admit O(n²) candidates; 8 rows cuts the background
  // collision rate to ~0.2% while keeping near-identical docs.
  val CharHashK = 16
  val CharBands = 2
  val CharTau = 0.6
  val SimhashMaxHamming = 3
  val EmbTau = 0.35
  val BruteK = 5
  val IvfK = 3
  // SRP-LSH: 10 bands × 6 bits — cos ≥ 0.95 pairs caught w.p. ~0.999,
  // background (cos ≈ 0) band-collision rate 0.5^6 ≈ 1.6%
  val SrpBits = 60
  val SrpBands = 10
  val SrpTopK = 20
  val EmbDims = 64
  // k-means: 8 cells, 2 Lloyd rounds — enough to move every centroid off
  // its seed vector while keeping the unrolled oracle readable
  val KmK = 8
  val KmRounds = 2

  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private[operators] def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Text statistics: chars, whitespace tokens, BPE-ish tokens, punctuation,
    * stopword ratio — the standard quality-filter signals. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars_actual"),
      tokenCount("text").as("n_tokens"),
      bpeTokenCount("text").as("n_bpe_tokens"),
      punctCount("text").as("n_punct"),
      lexiconHits("text", EnglishStopwords).as("n_stopwords"),
      dround(lexiconHits("text", EnglishStopwords).cast("double") /
        tokenCount("text"), 6).as("stopword_ratio"))
      .orderBy("doc_id")

  /** The composite quality score shared by q31/q55/q78/q86 — length,
    * punctuation, stopword signals with fixed weights, 6dp-rounded.
    * SQL twin: [[qualitySql]]. */
  private[graft] def qualityCol: org.apache.spark.sql.Column = {
    val tokens = tokenCount("text").cast("double")
    val punctR = punctCount("text").cast("double") / length(col("text"))
    val stopR = lexiconHits("text", EnglishStopwords).cast("double") / tokens
    dround(
      least(tokens / 100.0, lit(1.0)) * 0.4 + (lit(1.0) - punctR) * 0.3 + stopR * 0.3, 6)
  }
  private[operators] def qualitySql: String = {
    val tokens = s"${tokenCountSql("text")}::DOUBLE"
    val punctR = s"${punctCountSql("text")}::DOUBLE / length(text)"
    val stopR = s"${lexiconHitsSql("text", EnglishStopwords)}::DOUBLE / ($tokens)"
    droundSql(
      s"least($tokens / 100.0, 1.0) * 0.4 + (1.0 - ($punctR)) * 0.3 + ($stopR) * 0.3", 6)
  }

  /** Composite quality score + class — length, punctuation, stopword
    * signals combined with fixed weights. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val score = qualityCol
    docs(spark, dir).select(
      col("doc_id"), score.as("quality"),
      when(score >= 0.5, "high").when(score >= 0.35, "medium").otherwise("low")
        .as("quality_class"))
      .orderBy("doc_id")
  }

  /** Marker-lexicon language ID with deterministic argmax. */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextFunctions.langId("text").as("lang_guess"),
      col("lang").as("lang_label"))
      .orderBy("doc_id")

  /** Content + bag fingerprints (rolling-hash document identity). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      contentFingerprint("text").as("content_fp"),
      bagFingerprint("text").as("bag_fp"))
      .orderBy("doc_id")

  /** Exact dedup via hash group-by on the bag fingerprint (raw-text hash
    * yields all-singleton clusters on this fixture; the bag key catches
    * its planted reordered-word duplicates). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactClusters(docs(spark, dir), "doc_id", bagFingerprint("text"))
      .orderBy("fp")

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(spark, dir), "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau)
      .orderBy("id_a", "id_b")

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir), "doc_id", "text", SimhashMaxHamming)
      .orderBy("id_a", "id_b")

  def dedupCharNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.charNgramPairs(docs(spark, dir), "doc_id", "text",
      CharNgramN, CharHashK, CharBands, CharTau)
      .orderBy("id_a", "id_b")

  /** Training-mixture quota sampling: the best `QuotaPerLang` documents
    * per language by quality score — how a pipeline balances a corpus
    * across sources/languages under a per-bucket budget. One keyed window
    * (quality desc, doc_id tiebreak), no global sort; at 100 TB each
    * language partition ranks independently. */
  val QuotaPerLang = 40
  def quotaSample(spark: SparkSession, dir: String): DataFrame = {
    val score = qualityCol
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), score.as("quality"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= QuotaPerLang)
      .orderBy("lang", "rk")
  }

  /** Gopher-style repetition/boilerplate signals: distinct-word ratio,
    * most-common-word fraction, most-common-bigram fraction. High values
    * flag templated/spammy documents. The frequency mode per doc is the
    * distributed explode → (doc, term) count → per-doc max shape — two
    * shuffles keyed by doc_id, no per-doc quadratic lambda, so a 100 TB
    * corpus stays a pair of hash aggregations. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStatsOf(docs(spark, dir))

  def repetitionStatsOf(d: DataFrame): DataFrame = {
    // words materialized once; bigrams deliberately NOT distinct (these
    // are frequency signals — word_shingles' array_distinct would erase
    // exactly the repetition being measured)
    val base = d.select(col("doc_id"),
      expr(wordsExpr("text")).as("w"))
    val uni = base
      .select(col("doc_id"), size(col("w")).as("n_words"),
        explode(col("w")).as("t"))
      .groupBy("doc_id", "n_words", "t").agg(count(lit(1)).as("n"))
      .groupBy("doc_id", "n_words")
      .agg(count(lit(1)).cast("int").as("n_distinct"),
        max(col("n")).cast("int").as("top_word_n"))
    val bi = base
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) " +
          "ELSE array_repeat('', 0) END")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max(col("n")).cast("int").as("top_bigram_n"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("top_word_n"),
        coalesce(col("top_bigram_n"), lit(0)).as("top_bigram_n"),
        dround(col("n_distinct").cast("double") / col("n_words"), 6)
          .as("distinct_ratio"),
        dround(col("top_word_n").cast("double") / col("n_words"), 6)
          .as("top_word_frac"),
        dround(coalesce(col("top_bigram_n"), lit(0)).cast("double") /
          greatest(col("n_words") - 1, lit(1)), 6).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Incremental dedup: which documents of an incoming batch (source =
    * `batchSource`) are NOVEL vs the existing corpus (every other source)
    * — the day-2 shape of dedup, where the corpus is already ingested and
    * only the delta is checked. Exact form: left-anti join on the bag
    * fingerprint — the corpus side is a one-column long projection, so at
    * 100 TB it broadcast-joins if the fingerprint set fits (or shuffles on
    * the 8-byte key, never the text); the standard pre-filter is a bloom
    * filter built over corpus fingerprints (false positives then re-checked
    * by this same anti-join, false negatives impossible). */
  val BatchSource = "src0"
  def novelDocs(spark: SparkSession, dir: String): DataFrame =
    novelDocsOf(docs(spark, dir), BatchSource)

  def novelDocsOf(d: DataFrame, batchSource: String): DataFrame = {
    val batch = d.filter(col("source") === batchSource)
      .select(col("doc_id"), bagFingerprint("text").as("fp"))
    val corpus = d.filter(col("source") =!= batchSource)
      .select(bagFingerprint("text").as("fp"))
    batch.join(corpus, Seq("fp"), "left_anti")
      .select("doc_id", "fp").orderBy("doc_id")
  }

  /** [[novelDocs]]'s documented 100 TB pre-filter, made real and
    * oracle-gated: build a bloom filter over the corpus fingerprints
    * (distributed treeAggregate, MB-scale sketch at the driver),
    * broadcast it, and let it split the batch — rows the bloom has never
    * seen are novel BY CONSTRUCTION (no false negatives) and skip the
    * join entirely; only the small might-contain slice (true dups +
    * ~fpp false positives) pays the exact anti-join. Same result as q57
    * (same oracle), different plan: at 100 TB the anti-join's probe side
    * shrinks from the whole batch to ~|dups| + fpp·|batch| rows. */
  def novelDocsBloom(spark: SparkSession, dir: String): DataFrame =
    novelDocsBloomOf(spark, docs(spark, dir), BatchSource)

  def novelDocsBloomOf(spark: SparkSession, d: DataFrame,
                       batchSource: String): DataFrame = {
    // both sides cached: corpus feeds sizing count + bloom build + the
    // anti-join, batch feeds both gate branches — one fingerprint
    // computation each, not three/two
    val corpus = d.filter(col("source") =!= batchSource)
      .select(bagFingerprint("text").as("fp"))
      .transform(graft.core.EngineCache.persisted)
    val bloom = corpus.stat.bloomFilter("fp",
      expectedNumItems = math.max(corpus.count(), 1L), fpp = 0.03)
    val bc = spark.sparkContext.broadcast(bloom)
    // boxed Long: a null fingerprint must NOT vanish into neither branch —
    // the exact anti-join keeps null-keyed rows (null never matches), so
    // the bloom path routes them to definitelyNovel for the same result
    val mightContain = udf((fp: java.lang.Long) =>
      fp != null && bc.value.mightContainLong(fp))
    val batch = d.filter(col("source") === batchSource)
      .select(col("doc_id"), bagFingerprint("text").as("fp"))
      .transform(graft.core.EngineCache.persisted)
    val definitelyNovel = batch.filter(!mightContain(col("fp")))
    val confirmedNovel = batch.filter(mightContain(col("fp")))
      .join(corpus, Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    definitelyNovel.unionByName(confirmedNovel).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q142
  /** Leakage-safe train/val/test split: q100 hashes DOCUMENTS into
    * splits, which leaks whenever two near-duplicates straddle the
    * boundary (the eval answer sits in the training set verbatim-ish —
    * the failure mode behind benchmark-contamination findings). This
    * split hashes the near-dup COMPONENT instead: LSH pairs (q35's
    * machinery) → connected components (q51's) → every doc not in any
    * pair is its own singleton component → split = hash(component) % 10
    * (8/1/1). Whole clusters land in one split BY CONSTRUCTION. The
    * oracle replays pairs + components through the recursive-CTE ground
    * truth and the identical hash arithmetic — hash-compared per doc. */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val comps = Dedup.connectedComponents(lshPairsAtRest(spark, dir))
      .withColumnRenamed("doc_id", "cid")
    d.select(col("doc_id"))
      .join(comps, col("doc_id") === col("cid"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("b",
        xhash(concat(lit("split:"), col("component").cast("string"))) % 10)
      .select(col("doc_id"), col("component"),
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  def leakageSplitSql: String = {
    val pairs = Dedup.minhashLshPairsSql("documents", "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b")
    s"""
    WITH RECURSIVE pairs AS ($pairs),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
    comp AS (
      SELECT id AS doc_id, min(label) AS component
      FROM reach GROUP BY id),
    all_docs AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    hashed AS (
      SELECT doc_id, component,
        ${xhashSql("'split:' || component::VARCHAR")} % 10 AS b
      FROM all_docs)
    SELECT doc_id, component,
      CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END
        AS split
    FROM hashed ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q288
  /** Leakage-safe K-FOLD cross-validation assignment with a
    * stratification-cost audit — the CV companion to q142's 3-way
    * split: fold = xhash(near-dup COMPONENT) mod [[KFolds]], so a
    * cluster of near-duplicates can never straddle a train/heldout
    * boundary in ANY rotation (doc-level folding leaks in K-1 of K
    * rotations — worse than a single split, because every doc is
    * heldout once). Component folding buys that guarantee at a price:
    * folds can no longer be exactly stratified (a whole cluster lands
    * together), and this query MEASURES the price instead of hiding
    * it — per (lang, fold) over the DENSE lang × 0..K−1 grid (an
    * entirely empty fold is the worst failure and must read dev6 =
    * 1e6, not vanish from a sparse group-by): doc count, token mass,
    * and dev6 =
    * |K·n_docs − lang_total| / lang_total on the 1e-6 grid, the
    * relative deviation from perfect balance a stratified sampler
    * would have achieved. Scale shape: the LSH pair table and
    * component join are q35/q51's bounded machinery; the readout is
    * one hash agg to O(langs × K) rows, the balance window runs over
    * that aggregated frame, and the deviation is exact integer
    * arithmetic until the final gridded divide. */
  val KFolds = 5

  /** Per-doc fold assignment (doc_id, lang, toks, component, fold) —
    * the frame q288 aggregates; exposed so the spec can assert the
    * cluster-co-location guarantee doc by doc. */
  private[graft] def kfoldAssign(spark: SparkSession, dir: String): DataFrame = {
    val comps = Dedup.connectedComponents(lshPairsAtRest(spark, dir))
      .withColumnRenamed("doc_id", "cid")
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount("text").as("toks"))
      .join(comps, col("doc_id") === col("cid"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("fold",
        xhash(concat(lit("kf:"), col("component").cast("string"))) % KFolds)
  }

  def kfoldCv(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the O(langs × K) aggregate feeds BOTH the lang grid
    // and the join below — unpersisted, Spark would re-run the whole
    // LSH/component pipeline behind kfoldAssign twice (q211 discipline)
    val counts = graft.core.EngineCache.persisted(
      kfoldAssign(spark, dir)
        .groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("long").as("n_tokens")))
    // DENSE (lang, fold) axis: an entirely empty fold is the WORST
    // stratification failure this audit exists to surface — a sparse
    // group-by would make it vanish instead of reading dev6 = 1e6
    // (|K·0 − tot|/tot on the grid). O(langs × K) grid rows, free.
    val grid = counts.select(col("lang")).distinct()
      .select(col("lang"),
        explode(sequence(lit(0L), lit((KFolds - 1).toLong))).as("fold"))
    grid.join(counts, Seq("lang", "fold"), "left")
      .na.fill(0L, Seq("n_docs", "n_tokens"))
      .withColumn("tot", sum(col("n_docs"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .select(col("lang"), col("fold").cast("long").as("fold"),
        col("n_docs").cast("long").as("n_docs"), col("n_tokens"),
        expr(s"CAST(floor(abs(CAST($KFolds * n_docs - tot AS DOUBLE))" +
          " / CAST(tot AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").as("dev6"))
      .orderBy("lang", "fold")
  }

  def kfoldCvSql: String = {
    val pairs = Dedup.minhashLshPairsSql("documents", "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b")
    s"""
    WITH RECURSIVE pairs AS ($pairs),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
    comp AS (
      SELECT id AS doc_id, min(label) AS component
      FROM reach GROUP BY id),
    all_docs AS (
      SELECT d.doc_id, d.lang, ${tokenCountSql("d.text")} AS toks,
        coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    folded AS (
      SELECT lang,
        ${xhashSql("'kf:' || component::VARCHAR")} % $KFolds AS fold,
        CAST(count(1) AS BIGINT) AS n_docs,
        CAST(sum(toks) AS BIGINT) AS n_tokens
      FROM all_docs GROUP BY 1, 2),
    grid AS (
      SELECT lang, unnest(range(0, $KFolds))::BIGINT AS fold
      FROM (SELECT DISTINCT lang FROM folded)),
    dense AS (
      SELECT g.lang, g.fold,
        coalesce(f.n_docs, 0)::BIGINT AS n_docs,
        coalesce(f.n_tokens, 0)::BIGINT AS n_tokens
      FROM grid g LEFT JOIN folded f
        ON g.lang = f.lang AND g.fold = f.fold),
    bal AS (
      SELECT lang, fold, n_docs, n_tokens,
        sum(n_docs) OVER (PARTITION BY lang) AS tot
      FROM dense)
    SELECT lang, CAST(fold AS BIGINT) AS fold, n_docs, n_tokens,
      CAST(floor(abs(CAST($KFolds * n_docs - tot AS DOUBLE))
        / CAST(tot AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS dev6
    FROM bal ORDER BY lang, fold"""
  }

  // ---------------------------------------------------------------- q143
  /** Cross-source contamination matrix — which sources copy from which:
    * LSH near-dup pairs (q35's machinery) mapped to their sources and
    * rolled up per UNORDERED source pair, with each side's pair count
    * normalized by the smaller source's document count (an upper-bound
    * "mirror share": a feed that is a subset-mirror of another scores
    * near 1 even when the bigger side dwarfs it). O(|sources|²) output
    * at any corpus size; the expensive part is the pair generation the
    * dedup pipeline already runs. */
  def sourceContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = lshPairsAtRest(spark, dir).select(col("id_a"), col("id_b"))
    val src = d.select(col("doc_id"), col("source"))
    val sized = d.groupBy(col("source")).agg(count(lit(1)).as("sn"))
    val m = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("raw_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("raw_b")), "id_b")
      .select(least(col("raw_a"), col("raw_b")).as("source_a"),
        greatest(col("raw_a"), col("raw_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    m.join(sized.select(col("source").as("source_a"), col("sn").as("na")), "source_a")
      .join(sized.select(col("source").as("source_b"), col("sn").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        dround(col("n_pairs").cast("double") / least(col("na"), col("nb")), 6)
          .as("mirror_share"))
      .orderBy("source_a", "source_b")
  }

  def sourceContaminationSql: String = {
    val pairs = Dedup.minhashLshPairsSql("documents", "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b")
    s"""
    WITH pairs AS ($pairs),
    src AS (SELECT doc_id, source FROM documents),
    sized AS (SELECT source, CAST(count(1) AS BIGINT) AS sn
              FROM documents GROUP BY source),
    m AS (
      SELECT least(sa.source, sb.source) AS source_a,
        greatest(sa.source, sb.source) AS source_b,
        CAST(count(1) AS BIGINT) AS n_pairs
      FROM pairs p
      JOIN src sa ON sa.doc_id = p.id_a
      JOIN src sb ON sb.doc_id = p.id_b
      GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source))
    SELECT m.source_a, m.source_b, m.n_pairs,
      ${droundSql(
        "CAST(m.n_pairs AS DOUBLE) / least(za.sn, zb.sn)", 6)} AS mirror_share
    FROM m
    JOIN sized za ON za.source = m.source_a
    JOIN sized zb ON zb.source = m.source_b
    ORDER BY m.source_a, m.source_b"""
  }

  // ---------------------------------------------------------------- q141
  /** Bloom filters AT REST ([[graft.functions.BloomSketch]]) — the
    * membership leg of the sketch-at-rest story and the scale path q62
    * only gestures at: q62 rebuilds its filter from the corpus on every
    * run, while a real incremental pipeline builds per-shard blooms AT
    * INGEST, persists the BINARY bit arrays, and filters every later
    * batch from the stored sketches alone. Stage 1 writes per-shard
    * blooms of the corpus bag-fingerprints to parquet; stage 2 re-reads
    * ONLY the bloom table, `bloom_merge`s (bit-OR) into one filter, and
    * probes the incoming batch. Gates: exact duplicate flags
    * (hash-compared against the oracle's EXISTS) and the bloom contract
    * itself — a probe may only say "absent" when the key is truly
    * absent (no false negatives, structural: OR never clears a bit). */
  def bloomPersist(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomSketch.register(spark)
    val d = docs(spark, dir)
    graft.core.Warehouse.writeTable(
      d.filter(col("source") =!= BatchSource)
        .select(bagFingerprint("text").as("fp"))
        .withColumn("shard", (col("fp") % 8).cast("int"))
        .groupBy("shard").agg(expr("bloom_build(fp)").as("sk")),
      "bloom_fp_shards", "shard")
    val merged = graft.core.Warehouse.readTable(spark, "bloom_fp_shards")
      .agg(expr("bloom_merge(sk)").as("msk"))
    val corpusFp = d.filter(col("source") =!= BatchSource)
      .select(bagFingerprint("text").as("cfp")).distinct()
    d.filter(col("source") === BatchSource)
      .select(col("doc_id"), bagFingerprint("text").as("fp"))
      .crossJoin(broadcast(merged))
      .join(broadcast(corpusFp), col("fp") === col("cfp"), "left")
      .select(col("doc_id"),
        col("cfp").isNotNull.as("exact_dup"),
        (col("cfp").isNull || expr("bloom_contains(msk, fp)"))
          .as("no_false_negative"))
      .orderBy("doc_id")
  }

  def bloomPersistSql: String = s"""
    WITH b AS (
      SELECT doc_id, ${bagFingerprintSql("text")} AS fp
      FROM documents WHERE source = '$BatchSource'),
    c AS (
      SELECT DISTINCT ${bagFingerprintSql("text")} AS fp
      FROM documents WHERE source <> '$BatchSource')
    SELECT b.doc_id,
      EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp) AS exact_dup,
      TRUE AS no_false_negative
    FROM b ORDER BY b.doc_id"""

  // ---------------------------------------------------------------- q239
  /** COUNTING-bloom DELETE ([[graft.functions.CountingBloom]], Fan et
    * al. 2000) — the honest delete the q141 bloom cannot have: bit-OR
    * never clears, so a takedown against a plain bloom at rest forces
    * a rebuild. The counting filter is a LINEAR sketch of the inserted
    * key multiset — one insertion PER DOCUMENT (q234's refcount
    * discipline, sketched): per-shard counting blooms of the corpus
    * bag-fingerprints persist at rest; a takedown cohort (doc_id ≡
    * [[CBloomDelRem]] mod [[CBloomDelMod]]) is re-fingerprinted from
    * ONLY the deleted rows' slice, cbloom_built, and SUBTRACTED from
    * the merged filter — O(deletes) work, never a corpus re-read, and
    * by linearity byte-identical to a rebuild on the surviving corpus
    * (the property spec pins byte equality). A fingerprint shared by
    * deleted AND surviving docs keeps its surviving +1s, so no false
    * negatives survive the delete, structurally. The serve probes the
    * arriving batch against the subtracted filter and reports each
    * batch doc's exact-dup flag plus its LIVE partner count; the
    * cohort is chosen so the delete visibly flips a flag at fixture
    * scale (doc 20's only partner leaves). Oracle: the exact
    * EXISTS/count over the tombstone-filtered corpus — the bloom side
    * is gated by the no-false-negative invariant, as in q141. */
  val CBloomDelMod = 10
  val CBloomDelRem = 3

  def cbloomDelete(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CountingBloom.register(spark)
    val d = docs(spark, dir)
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val stored = graft.core.Warehouse.tableOnce(spark,
      s"cbloom_fp_shards_$suffix", "shard") {
      d.filter(col("source") =!= BatchSource)
        .select(col("doc_id"), bagFingerprint("text").as("fp"))
        .withColumn("shard", (col("fp") % 8).cast("int"))
        .groupBy("shard").agg(expr("cbloom_build(fp)").as("sk"))
    }
    val merged = stored.agg(expr("cbloom_merge(sk)").as("msk"))
    val tombPred = col("source") =!= BatchSource &&
      col("doc_id") % CBloomDelMod === CBloomDelRem
    val delSk = d.filter(tombPred)
      .select(bagFingerprint("text").as("fp"))
      .agg(expr("cbloom_build(fp)").as("dsk"))
    val live = merged.crossJoin(delSk)
      .select(expr("cbloom_diff(msk, dsk)").as("lsk"))
    val liveFp = d.filter(col("source") =!= BatchSource && !tombPred)
      .select(bagFingerprint("text").as("cfp"))
    d.filter(col("source") === BatchSource)
      .select(col("doc_id"), bagFingerprint("text").as("fp"))
      .join(broadcast(liveFp), col("fp") === col("cfp"), "left")
      .groupBy("doc_id", "fp")
      .agg(count(col("cfp")).as("n_live_partners"))
      .crossJoin(broadcast(live))
      .select(col("doc_id"),
        (col("n_live_partners") > 0).as("exact_dup"),
        col("n_live_partners"),
        (col("n_live_partners") === 0 || expr("cbloom_contains(lsk, fp)"))
          .as("no_false_negative"))
      .orderBy("doc_id")
  }

  def cbloomDeleteSql: String = s"""
    WITH b AS (
      SELECT doc_id, ${bagFingerprintSql("text")} AS fp
      FROM documents WHERE source = '$BatchSource'),
    c AS (
      SELECT ${bagFingerprintSql("text")} AS fp
      FROM documents
      WHERE source <> '$BatchSource'
        AND NOT (doc_id % $CBloomDelMod = $CBloomDelRem))
    SELECT b.doc_id,
      EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp) AS exact_dup,
      (SELECT count(*) FROM c WHERE c.fp = b.fp)::BIGINT AS n_live_partners,
      TRUE AS no_false_negative
    FROM b ORDER BY b.doc_id"""

  /** Benchmark decontamination: flag corpus documents sharing any
    * DecontamN-word shingle with a held-out eval source — the standard
    * "did training data leak the benchmark" check. The eval side's
    * distinct shingle set is tiny relative to the corpus, so the plan is
    * a broadcast semi-ish join: corpus shingles stream past the
    * broadcast eval set and only hits survive to the per-doc count. At
    * 100 TB: corpus side is explode → broadcast-hash-join → partial
    * count per doc — one scan, no corpus-side shuffle of text, and the
    * exchange carries only (doc_id, shingle-hit) rows. */
  val DecontamN = 4
  val EvalSource = "src19"
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val d = docs(spark, dir)
    def shingled(df: DataFrame) = df
      .selectExpr("doc_id", s"${wordsExpr("text")} AS w")
      .selectExpr("doc_id", s"word_shingles(w, $DecontamN) AS sh")
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val evalShingles = shingled(d.filter(col("source") === EvalSource))
      .select("s").distinct()
    shingled(d.filter(col("source") =!= EvalSource))
      .join(broadcast(evalShingles), "s")
      .groupBy("doc_id")
      .agg(countDistinct(col("s")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Text normalization — the canonical-form step before exact dedup:
    * lowercase, strip punctuation, collapse whitespace, trim; emits the
    * normalized text's fingerprint so normalized-dedup is one groupBy
    * away. Pure codegen'd string expressions over one scan. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[\\\\p{Punct}]', ' '), '\\\\s+', ' '))"
    docs(spark, dir).select(
      col("doc_id"),
      expr(norm).as("norm_text"),
      expr(s"length($norm)").as("norm_len"),
      contentFingerprint(norm).as("norm_fp"))
      .orderBy("doc_id")
  }

  /** Greedy sequence packing into fixed-capacity token bins per
    * (lang, doc_id % PackShards) group — see [[graft.llm.Packing]]. */
  val PackCapacity = 256
  val PackShards = 4
  def packDocs(spark: SparkSession, dir: String): DataFrame =
    Packing.packGreedy(docs(spark, dir), "doc_id", "text", "lang",
      PackCapacity, PackShards)
      .orderBy("lang", "shard", "doc_id")

  /** Token-count deciles per language (ntile) — the corpus length profile
    * that picks packing capacity and truncation cutoffs. */
  def tokenDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_tokens"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), tokenCount("text").as("n_tokens"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang", "decile")
  }

  /** Deterministic mixture resampling: each language carries a target
    * weight; a doc is emitted floor(w) times plus one more iff its hash
    * gate lands under the fractional part — exact up/down-sampling with
    * no RNG state, reproducible on any partitioning (same hash-gate idea
    * as q49). Weights < 1 DOWN-sample (docs with 0 repeats vanish at the
    * explode); weights > 1 UP-sample (explode materializes the epochs).
    * One scan → codegen'd repeat computation → Generate; no shuffle at
    * all until a downstream consumer asks for one. */
  val MixWeights: Seq[(String, Double)] = Seq(
    "de" -> 2.5, "en" -> 0.5, "es" -> 1.5, "fr" -> 1.0, "zh" -> 2.0)
  /** (base copies, percent chance of one extra) per language — the
    * integer decomposition of MixWeights, shared with the oracle. */
  private[operators] def mixParts: Seq[(String, Int, Int)] = MixWeights.map { case (l, w) =>
    (l, math.floor(w).toInt, math.round((w - math.floor(w)) * 100).toInt)
  }
  def mixtureUpsample(spark: SparkSession, dir: String): DataFrame = {
    val gate =
      s"${xhashExpr("concat('mix:', CAST(doc_id AS STRING))")} % 100"
    val nRepeats = mixParts.map { case (l, base, fracPct) =>
      s"WHEN '$l' THEN $base + IF($gate < $fracPct, 1, 0)"
    }.mkString("CASE lang ", " ", " ELSE 1 END")
    docs(spark, dir)
      .selectExpr("doc_id", "lang", s"CAST($nRepeats AS INT) AS n_repeats")
      .selectExpr("doc_id", "lang", "n_repeats",
        "explode(CASE WHEN n_repeats >= 1 THEN sequence(1, n_repeats) " +
          "ELSE array_repeat(0, 0) END) AS copy_idx")
      .orderBy("doc_id", "copy_idx")
  }

  /** Corpus-wide term statistics: total term frequency + document
    * frequency, top `TermTopK` by frequency — the stopword/vocab
    * induction scan. Explode → two-level agg (map-side partials crush
    * each partition to its vocab before the shuffle) → top-k via
    * orderBy+limit (TakeOrderedAndProject, no global sort). */
  val TermTopK = 50
  def termStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(words("text")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(TermTopK)

  // ---------------------------------------------------------------- q291
  /** Exact n-gram heavy hitters via a SPACE-SAVING candidate pass +
    * one recount — the enumeration member of the sketch family: q137's
    * CMS answers point queries about KNOWN keys; this ENUMERATES every
    * bigram with global frequency > n/[[HhCap]], exactly, while
    * shuffling O(partitions × [[HhCap]]) candidate rows instead of the
    * bigram vocabulary (which for n-grams grows toward the corpus
    * itself — the regime where q67's plain top-k groupBy pays a
    * vocabulary-sized shuffle and this does not). Pass 1 streams each
    * partition through a [[graft.functions.SpaceSaving]] summary with
    * exactly HhCap counters (Metwally 2005): any item with f_p >
    * n_p/HhCap survives its partition, and an item with global
    * f > n/HhCap must clear that bar in ≥ 1 partition — so the
    * candidate UNION is a deterministic superset of the true hitters.
    * Pass 2 recounts ONLY the candidates (broadcast semi-join) and
    * keeps tf · HhCap > n — making the output exact and
    * PARTITION-INVARIANT even though the intermediate summary is
    * order-sensitive (spec drives adversarial repartitionings at the
    * planted boundary). The total-token count comes from one agg over
    * per-doc word counts — no third pass over exploded bigrams. The
    * oracle is the direct HAVING-threshold SQL: hash equality proves
    * the bounded-memory pass lost nothing. */
  val HhCap = 600

  private def bigramsExpr(w: String): String =
    s"CASE WHEN size($w) >= 2 THEN transform(sequence(1, size($w) - 1), " +
      s"i -> concat(element_at($w, i), ' ', element_at($w, i + 1))) " +
      s"ELSE array_repeat('', 0) END"

  def ngramHitters(spark: SparkSession, dir: String): DataFrame =
    ngramHittersOf(spark, docs(spark, dir))

  /** Core of q291 over any (text) frame — split out so the spec can
    * drive adversarial repartitionings of a planted corpus. */
  private[graft] def ngramHittersOf(spark: SparkSession, d: DataFrame): DataFrame = {
    import spark.implicits._
    val tok = d.select(expr(wordsExpr("text")).as("w"))
      .select(explode(expr(bigramsExpr("w"))).as("bg"))
    val cands = tok.as[String].mapPartitions { it =>
      val ss = new graft.functions.SpaceSaving(HhCap)
      it.foreach(ss.add)
      ss.candidates
    }.toDF("bg").distinct()
    val nDf = d.select(expr(s"size(${wordsExpr("text")})").as("s"))
      .agg(sum(expr("greatest(s - 1, 0)")).cast("long").as("n"))
    tok.join(broadcast(cands), "bg")
      .groupBy("bg").agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(nDf))
      .filter(col("tf") * HhCap > col("n"))
      .select(col("bg"), col("tf").cast("long").as("tf"))
      .orderBy(col("tf").desc, col("bg"))
  }

  def ngramHittersSql: String = s"""
    WITH w AS (SELECT ${wordsSql("text")} AS a FROM documents),
    tok AS (
      SELECT unnest(CASE WHEN len(a) >= 2
        THEN list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])
        ELSE [] END) AS bg
      FROM w),
    nt AS (SELECT CAST(sum(greatest(len(a) - 1, 0)) AS BIGINT) AS n FROM w)
    SELECT bg, CAST(count(1) AS BIGINT) AS tf
    FROM tok CROSS JOIN nt
    GROUP BY bg, nt.n HAVING count(1) * $HhCap > nt.n
    ORDER BY tf DESC, bg"""

  /** Sliding-window document chunking: split each document's token stream
    * into `ChunkTokens`-token chunks advancing by `ChunkStride` (so
    * consecutive chunks overlap by ChunkTokens − ChunkStride tokens) — the
    * context-window preparation step before packing/training. Start
    * positions are computed, not discovered: k = ⌈(n − C)/S⌉ extra chunks
    * beyond the first, so the generator explodes an integer sequence and
    * `slice` does the rest — pure codegen'd expressions, one scan, no
    * shuffle; each chunk carries its fingerprint for chunk-level dedup. */
  val ChunkTokens = 64
  val ChunkStride = 48
  private[operators] def docChunksCore(spark: SparkSession, dir: String): DataFrame = {
    val sliceE = s"slice(w, chunk_id * $ChunkStride + 1, $ChunkTokens)"
    docs(spark, dir)
      .select(col("doc_id"), expr(wordsExpr("text")).as("w"))
      .withColumn("n_words", size(col("w")))
      .withColumn("k", expr("greatest(0, CAST(floor((n_words - " +
        s"$ChunkTokens + $ChunkStride - 1) / $ChunkStride) AS INT))"))
      .withColumn("chunk_id", explode(expr("sequence(0, k)")))
      .select(col("doc_id"), col("chunk_id"),
        expr(s"size($sliceE)").as("n_tokens"),
        expr(xhashExpr(s"array_join($sliceE, ' ')")).as("chunk_fp"))
  }
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    docChunksCore(spark, dir).orderBy("doc_id", "chunk_id")

  /** Chunk-containment near-dup detection: doc A is (partially) contained
    * in doc B when ≥ `ContainTau` of A's distinct chunk fingerprints also
    * appear in B — the asymmetric complement of whole-doc dedup that
    * catches quote-inclusion and prefix/suffix copies. Candidates come
    * from an equi-join on chunk_fp (never all-pairs); "stop chunks"
    * appearing in more than `StopChunkDf` docs are dropped before the
    * join — the boilerplate-chunk guard that bounds every fingerprint's
    * bucket, so the join's worst key fans out ≤ StopChunkDf² even on 100 TB
    * (the same reason AQE skew-split stays idle here). The chunk frame is
    * computed once and persisted: the a-side, b-side, and size frames all
    * reuse it. Containment = shared/|A| on exact ints, division identical
    * cross-engine. */
  val ContainTau = 0.5
  val StopChunkDf = 50
  def chunkContainment(spark: SparkSession, dir: String): DataFrame = {
    val fps = docChunksCore(spark, dir)
      .select(col("doc_id"), col("chunk_fp")).distinct()
      .transform(graft.core.EngineCache.persisted)
    val keep = fps.groupBy("chunk_fp")
      .agg(count(lit(1)).as("cdf")).filter(col("cdf") <= StopChunkDf)
      .select("chunk_fp")
    val kept = fps.join(keep, "chunk_fp")
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_chunks_a"))
    kept.select(col("doc_id").as("doc_a"), col("chunk_fp"))
      .join(kept.select(col("doc_id").as("doc_b"), col("chunk_fp")), "chunk_fp")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .withColumn("containment",
        col("shared").cast("double") / col("n_chunks_a"))
      .filter(col("containment") >= ContainTau)
      .select("doc_a", "doc_b", "shared", "n_chunks_a", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** Token-rarity profile per document: mean corpus document-frequency of
    * the doc's token instances and the count/ratio of "rare" instances
    * (corpus df ≤ `RareDf`) — the unigram-LM-flavored quality signal
    * (low mean-df ≈ high surprisal) computed with integer-exact
    * arithmetic: one explode feeds both the df aggregation and the
    * per-doc rollup, the vocabulary-sized df frame joins back on term,
    * and only the final mean/ratio divisions touch floating point
    * (identical-double ops, dround'd). At 100 TB the exchange carries
    * (doc_id, term) pairs; the df frame is |vocab| rows. */
  val RareDf = 200
  def docRarity(spark: SparkSession, dir: String): DataFrame = {
    val terms = docs(spark, dir)
      .select(col("doc_id"), explode(words("text")).as("term"))
    val df = terms.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    terms.join(df, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("df")).as("sum_df"),
        sum(when(col("df") <= RareDf, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        dround(col("sum_df").cast("double") / col("n_tokens"), 4).as("mean_df"),
        dround(col("n_rare").cast("double") / col("n_tokens"), 6).as("rare_ratio"))
      .orderBy("doc_id")
  }

  // PII patterns — RE2/Java-regex common subset (no lookaround), spelled
  // once; Spark SQL needs the backslashes doubled inside its string
  // literal, DuckDB takes them raw.
  val PiiEmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PiiIpRe = """\b\d{1,3}(\.\d{1,3}){3}\b"""
  val PiiNumRe = """\d{4,}"""
  private[operators] def sparkRe(re: String): String = re.replace("\\", "\\\\")

  /** PII redaction: scrub emails → `<EMAIL>`, IPv4 → `<IP>`, long digit
    * runs → `<NUM>`, counting each hit — the compliance pass every
    * training corpus runs before packing. Pure regexp_replace/
    * regexp_count column expressions: codegen'd, one scan, no shuffle at
    * any scale. The fixture text is wordlist-synthetic with no PII, so
    * the query enriches it with deterministic doc_id-derived contact
    * lines first (mirrored in the oracle) — the redactor then has real
    * work on every row; PiiSpec plants free-form PII besides. Replacement
    * order (email → ip → num) is part of the contract: an email's local
    * digits must not be half-eaten by the NUM pass first. */
  /** Spark SQL expression scrubbing PII from `src` (email → ip → num). */
  def redactPiiExpr(src: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($src, " +
      s"'${sparkRe(PiiEmailRe)}', '<EMAIL>'), " +
      s"'${sparkRe(PiiIpRe)}', '<IP>'), '${sparkRe(PiiNumRe)}', '<NUM>')"

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val enriched = "concat(text, ' contact user', CAST(doc_id AS STRING), " +
      "'@example.com from 10.0.', CAST(doc_id % 256 AS STRING), '.77 ref ', " +
      "CAST(100000 + doc_id AS STRING))"
    docs(spark, dir).select(
      col("doc_id"),
      expr(s"regexp_count($enriched, '${sparkRe(PiiEmailRe)}')").as("n_emails"),
      expr(s"regexp_count($enriched, '${sparkRe(PiiIpRe)}')").as("n_ips"),
      expr(s"regexp_count($enriched, '${sparkRe(PiiNumRe)}')").as("n_nums"),
      expr(redactPiiExpr(enriched)).as("redacted"))
      .orderBy("doc_id")
  }

  /** Per-document top-`TfidfTopK` terms by smoothed TF-IDF
    * (tf · ln((N+1)/(df+1))) — keyword extraction / relevance weighting
    * over the corpus vocabulary. Plan: the explode runs once per
    * consumer inside whole-stage codegen (per-doc tf, per-term df, both
    * map-side partials) — deliberately NOT persisted: caching the
    * ~1-row-per-token intermediate was measured slower than recomputing
    * the codegen'd split (same trade as q101; at a corpus scale where
    * the doubled scan dominates, persist `terms`). The df frame joins
    * back on term (vocab-sized, not corpus-sized), the 1-row doc count
    * broadcasts, and the final top-k is a keyed window. At 100 TB
    * nothing but (doc_id, term) pairs ever shuffles. */
  val TfidfTopK = 3
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val terms = docs(spark, dir)
      .select(col("doc_id"), explode(words("text")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", dround(
        col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfTopK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q138_bpe_tokens"     -> bpeTokens _,
    "q139_source_report"  -> sourceReport _,
    "q140_media_decode"   -> mediaDecode _,
    "q223_frame_sample"   -> frameSample _,
    "q272_audio_decode"   -> audioDecode _,
    "q141_bloom_persist"  -> bloomPersist _,
    "q239_cbloom_delete"  -> cbloomDelete _,
    "q142_leakage_split"  -> leakageSplit _,
    "q288_kfold_cv"       -> kfoldCv _,
    "q291_ngram_hitters"  -> ngramHitters _,
    "q143_source_contam"  -> sourceContamination _,
    "q144_lsh_pair_table" -> lshPairTable _,
    "q233_pair_delete"    -> lshPairDelete _,
    "q234_gramset_delete" -> gramSetDelete _,
    "q235_component_delete" -> componentDelete _,
    "q243_component_append" -> componentAppend _,
    "q145_incremental_dedup" -> incrementalDedup _,
    "q147_ann_filtered"   -> annFiltered _,
    "q148_pad_batching"   -> padBatching _,
    "q152_cdc_chunks"     -> cdcChunks _,
    "q155_phash_neardup"  -> phashPairs _,
    "q156_vocab_coverage" -> vocabCoverage _,
    "q157_dup_clusters"   -> dupClusterSizes _,
    "q158_hard_negatives" -> hardNegativeMining _,
    "q159_blocking_audit" -> blockingAudit _,
    "q160_dedup_impact"   -> dedupImpact _,
    "q161_mixture_plan"   -> mixturePlan _,
    "q162_substring_dedup" -> substringDedup _,
    "q165_curriculum_order" -> curriculumOrder _,
    "q166_ann_kmeans"     -> annKmeans _,
    "q179_ivf_multiprobe" -> annMultiprobe _,
    "q168_dedup_clean"    -> dedupClean _,
    "q171_span_increment" -> spanIncrement _,
    "q173_bpe_merges"     -> bpeMerges _,
    "q182_bpe_train"      -> bpeTrain _,
    "q183_bpe_tokenize"   -> bpeTokenize _,
    "q240_wordpiece"      -> wordpiece _,
    "q246_wordpiece_frozen" -> wordpieceFrozen _,
    "q257_unigram_lm"     -> unigramLm _,
    "q258_unigram_frozen" -> unigramFrozen _,
    "q184_intradoc_dedup" -> intradocDedup _,
    "q185_epoch_shuffle"  -> epochShuffle _,
    "q186_skipgram_negs"  -> skipgramNegatives _,
    "q188_script_profile" -> scriptProfile _,
    "q196_pps_sample"     -> ppsSample _,
    "q293_es_sample"      -> esSample _,
    "q244_cluster_sample" -> clusterBalancedSample _,
    "q253_semdedup"       -> semDedup _,
    "q197_taint_ppr"      -> taintPpr _,
    "q189_gram_novelty"   -> gramNovelty _,
    "q190_corpus_funnel"  -> corpusFunnel _,
    "q192_dedup_tau_sweep" -> dedupTauSweep _,
    "q176_source_jaccard" -> sourceJaccard _,
    "q30_text_stats"      -> textStats _,
    "q31_quality_score"   -> qualityScore _,
    "q32_langid"          -> langIdQuery _,
    "q33_fingerprint"     -> fingerprint _,
    "q34_dedup_exact"     -> dedupExact _,
    "q35_dedup_minhash"   -> dedupMinhash _,
    "q286_lsh_calibration" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.llm.Dedup.lshCalibration(docs(s, d), "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands)),
    "q36_dedup_simhash"   -> dedupSimhash _,
    "q37_dedup_ngram"     -> dedupCharNgram _,
    "q38_embed_near_dup"  -> embedNearDup _,
    "q39_ann_bruteforce"  -> annBruteForce _,
    "q40_ann_ivf"         -> annIvf _,
    "q41_emb_centroids"   -> embCentroids _,
    "q42_multimodal_meta" -> multimodalMeta _,
    "q43_array_ops"       -> arrayOps _,
    "q51_dedup_components" -> dedupComponents _,
    "q52_ivf_assign"      -> ivfAssign _,
    "q54_embed_srp_topk"  -> embedSrpPairs _,
    "q55_quota_sample"    -> quotaSample _,
    "q56_repetition_stats" -> repetitionStats _,
    "q57_novel_docs"      -> novelDocs _,
    "q59_sequence_packing" -> packDocs _,
    "q60_token_deciles"   -> tokenDeciles _,
    "q62_bloom_novel_docs" -> novelDocsBloom _,
    "q63_decontaminate"   -> decontaminate _,
    "q64_normalize_text"  -> normalizeText _,
    "q65_minhash_estimate" -> ((s: SparkSession, d: String) =>
      Dedup.minhashEstimatePairs(docs(s, d), "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands, MinhashTau)
        .orderBy("id_a", "id_b")),
    "q66_mixture_upsample" -> mixtureUpsample _,
    "q67_term_stats"      -> termStats _,
    "q72_doc_chunks"      -> docChunks _,
    "q73_tfidf_terms"     -> tfidfTerms _,
    "q74_dedup_corpus"    -> dedupCorpus _,
    "q76_components_star" -> dedupComponentsStar _,
    "q77_embed_quantize"  -> embedQuantize _,
    "q78_rank_correlation" -> rankCorrelation _,
    "q81_chunk_containment" -> chunkContainment _,
    "q82_doc_rarity"      -> docRarity _,
    "q83_pii_redact"      -> piiRedact _,
    "q84_kmeans_lloyd"    -> ((s: SparkSession, d: String) =>
      Similarity.kmeansLloyd(embs(s, d), KmK, KmRounds))
  )

  /** Shared by q57 and q62 — the bloom path is result-identical to the
    * exact anti-join BY CONSTRUCTION, so one oracle string serves both. */
  private val novelDocsOracle: String = s"""
      SELECT doc_id, fp FROM (
        SELECT doc_id, ${bagFingerprintSql("text")} AS fp
        FROM documents WHERE source = '$BatchSource') b
      WHERE NOT EXISTS (
        SELECT 1 FROM (
          SELECT ${bagFingerprintSql("text")} AS fp
          FROM documents WHERE source <> '$BatchSource') c
        WHERE c.fp = b.fp)
      ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "q138_bpe_tokens" -> bpeTokensSql,
    "q139_source_report" -> sourceReportSql,
    "q140_media_decode" -> mediaDecodeSql,
    "q223_frame_sample" -> frameSampleSql,
    // the WAV round-trip is lossless (spec-proven vs the JDK reader),
    // so the oracle replays the integer waveform with no codec
    "q272_audio_decode" -> audioDecodeSql,
    "q141_bloom_persist" -> bloomPersistSql,
    // delete = linear-sketch subtraction; exactness rides the exact
    // EXISTS/count over the tombstone-filtered corpus, the bloom side
    // is gated by the structural no-false-negative invariant
    "q239_cbloom_delete" -> cbloomDeleteSql,
    "q142_leakage_split" -> leakageSplitSql,
    // folds hash the near-dup component (recursive-CTE ground truth);
    // the balance window runs over the O(langs x K) aggregated frame
    "q288_kfold_cv" -> kfoldCvSql,
    // the oracle is the direct HAVING threshold: hash equality proves
    // the space-saving candidate pass enumerated every true hitter
    "q291_ngram_hitters" -> ngramHittersSql,
    "q143_source_contam" -> sourceContaminationSql,
    // q144 persists exactly the q35 pair set; the oracle replays the
    // full signature pipeline, proving the at-rest bytes lost nothing
    "q144_lsh_pair_table" -> Dedup.minhashLshPairsSql(
      "documents", "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
    // q233's tombstone anti-join must equal a full pipeline replay on
    // the tombstone-filtered corpus: delete ∘ store ≡ rebuild exactly
    "q233_pair_delete" -> Dedup.minhashLshPairsSql(
      "(SELECT * FROM documents WHERE NOT " +
        s"(doc_id % $DedupDelMod = $DedupDelRem)) live",
      "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
    // q234's refcount subtraction must equal a distinct-gram rebuild
    // on the tombstone-filtered corpus (exact checksummed rollup)
    "q234_gramset_delete" -> gramSetDeleteSql,
    "q145_incremental_dedup" -> Dedup.incrementalLshPairsSql(
      "documents", "doc_id", "text", s"source = '$BatchSource'",
      WordShingleN, MinhashK, MinhashBands, MinhashTau),
    "q30_text_stats" -> s"""
      SELECT doc_id,
        length(text)::INT AS n_chars_actual,
        ${tokenCountSql("text")} AS n_tokens,
        ${bpeTokenCountSql("text")} AS n_bpe_tokens,
        ${punctCountSql("text")} AS n_punct,
        ${lexiconHitsSql("text", EnglishStopwords)} AS n_stopwords,
        ${droundSql(
          s"${lexiconHitsSql("text", EnglishStopwords)}::DOUBLE / ${tokenCountSql("text")}", 6)}
          AS stopword_ratio
      FROM documents ORDER BY doc_id""",
    "q31_quality_score" -> {
      val tokens = s"${tokenCountSql("text")}::DOUBLE"
      val punctR = s"${punctCountSql("text")}::DOUBLE / length(text)"
      val stopR = s"${lexiconHitsSql("text", EnglishStopwords)}::DOUBLE / ($tokens)"
      val score = droundSql(
        s"least($tokens / 100.0, 1.0) * 0.4 + (1.0 - ($punctR)) * 0.3 + ($stopR) * 0.3", 6)
      s"""
      SELECT doc_id, $score AS quality,
        CASE WHEN $score >= 0.5 THEN 'high'
             WHEN $score >= 0.35 THEN 'medium' ELSE 'low' END AS quality_class
      FROM documents ORDER BY doc_id"""
    },
    "q32_langid" -> s"""
      SELECT doc_id, ${langIdSql("text")} AS lang_guess, lang AS lang_label
      FROM documents ORDER BY doc_id""",
    "q33_fingerprint" -> s"""
      SELECT doc_id,
        ${contentFingerprintSql("text")} AS content_fp,
        ${bagFingerprintSql("text")} AS bag_fp
      FROM documents ORDER BY doc_id""",
    "q34_dedup_exact" -> s"""
      SELECT fp, min(doc_id) AS keep_id, count(1) AS n_copies
      FROM (SELECT doc_id, ${bagFingerprintSql("text")} AS fp FROM documents)
      GROUP BY fp HAVING count(1) > 1
      ORDER BY fp""",
    // shared-text S-curve chains: both engines round identically
    "q286_lsh_calibration" -> Dedup.lshCalibrationSql("documents", "doc_id",
      "text", WordShingleN, MinhashK, MinhashBands),
    "q35_dedup_minhash" -> Dedup.minhashLshPairsSql("documents", "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
    "q36_dedup_simhash" -> Dedup.simhashPairsSql("documents", "doc_id", "text",
      SimhashMaxHamming, "id_a, id_b"),
    "q37_dedup_ngram" -> Dedup.charNgramPairsSql("documents", "doc_id", "text",
      CharNgramN, CharHashK, CharBands, CharTau, "id_a, id_b"),
    "q38_embed_near_dup" -> Similarity.cosineNearDupPairsSql("embeddings", "label", EmbTau),
    "q39_ann_bruteforce" -> Similarity.bruteForceTopKSql("embeddings", "vec_id < 20", BruteK),
    "q147_ann_filtered" -> Similarity.filteredTopKSql(
      "embeddings", "vec_id < 10", FilteredCandWhere, BruteK),
    "q148_pad_batching" -> padBatchingSql,
    "q152_cdc_chunks" -> cdcChunksSql,
    "q155_phash_neardup" -> phashPairsSql,
    "q156_vocab_coverage" -> vocabCoverageSql,
    "q157_dup_clusters" -> dupClusterSizesSql,
    "q158_hard_negatives" -> Similarity.hardNegativesSql(
      "embeddings", "vec_id < 10", BruteK),
    "q159_blocking_audit" -> Dedup.blockingAuditSql(
      "documents", "doc_id", "text", WordShingleN, MinhashK, MinhashBands,
      SimhashMaxHamming, StatsOps.SurvivorHeadWords, MinhashTau,
      s"doc_id < $AuditSampleCap"),
    "q160_dedup_impact" -> dedupImpactSql,
    "q161_mixture_plan" -> mixturePlanOracleSql,
    "q162_substring_dedup" -> substringDedupSql,
    "q165_curriculum_order" -> curriculumOrderSql,
    "q166_ann_kmeans" -> annKmeansSql,
    "q179_ivf_multiprobe" -> annMultiprobeSql,
    "q168_dedup_clean" -> dedupCleanSql,
    "q171_span_increment" -> spanIncrementSql,
    "q173_bpe_merges" -> bpeMergesSql,
    "q182_bpe_train" -> bpeTrainSql,
    "q183_bpe_tokenize" -> bpeTokenizeSql,
    // engine and oracle render from ONE dialect-parameterized template;
    // the per-doc checksum pins the exact greedy segmentation
    "q240_wordpiece" -> wordpieceSql,
    // frozen serve: the oracle re-derives the vocab from base raw text
    // and segments the batch, proving the at-rest vocab lost nothing
    "q246_wordpiece_frozen" -> wordpieceFrozenSql,
    // seed stats, the hard-EM round, tie-free Viterbi, and every
    // segmentation checksum replayed as unrolled integer CTEs
    "q257_unigram_lm" -> unigramLmSql,
    // frozen serve: the oracle re-trains the distribution from base
    // raw text and segments the batch, proving the at-rest (piece, l6)
    // table lost nothing
    "q258_unigram_frozen" -> unigramFrozenSql,
    "q184_intradoc_dedup" -> intradocDedupSql,
    "q185_epoch_shuffle" -> epochShuffleSql,
    "q186_skipgram_negs" -> skipgramNegativesSql,
    "q188_script_profile" -> scriptProfileSql,
    "q196_pps_sample" -> ppsSampleSql,
    // ES keys gridded to one BIGINT both engines order identically;
    // the oracle's row_number spelling proves the bounded-aggregator
    // rewrite, never the plan
    "q293_es_sample" -> esSampleSql,
    // clustering AND draw replayed: the gate covers the composition
    "q244_cluster_sample" -> clusterBalancedSampleSql,
    // clustering, τ-graph, AND closure replayed: the hash covers the
    // full SemDeDup composition including the keep-the-outlier draw
    "q253_semdedup" -> semDedupSql,
    "q197_taint_ppr" -> taintPprSql,
    "q189_gram_novelty" -> gramNoveltySql,
    "q190_corpus_funnel" -> corpusFunnelSql,
    "q192_dedup_tau_sweep" -> dedupTauSweepSql,
    "q176_source_jaccard" -> sourceJaccardSql,
    "q40_ann_ivf" -> Similarity.ivfTopKSql("embeddings", "label", "vec_id < 50", IvfK),
    "q41_emb_centroids" -> Similarity.centroidsSql("embeddings", "label"),
    "q42_multimodal_meta" -> """
      SELECT doc_id AS media_id,
        octet_length(encode(text))::INT AS byte_len,
        substr(hex(encode(text)), 1, 16) AS header_hex,
        md5(text) AS content_md5,
        array_to_string(list_transform(range(0, 4),
          i -> substr(hex(encode(text)), i * 32 + 1, 2)), ':') AS frames
      FROM documents ORDER BY media_id""",
    "q52_ivf_assign" -> Similarity.ivfAssignSql("embeddings", "label"),
    "q55_quota_sample" -> {
      val tokens = s"${tokenCountSql("text")}::DOUBLE"
      val punctR = s"${punctCountSql("text")}::DOUBLE / length(text)"
      val stopR = s"${lexiconHitsSql("text", EnglishStopwords)}::DOUBLE / ($tokens)"
      val score = droundSql(
        s"least($tokens / 100.0, 1.0) * 0.4 + (1.0 - ($punctR)) * 0.3 + ($stopR) * 0.3", 6)
      s"""
      SELECT doc_id, lang, quality, rk FROM (
        SELECT doc_id, lang, $score AS quality,
          (row_number() OVER (PARTITION BY lang
             ORDER BY $score DESC, doc_id))::INT AS rk
        FROM documents)
      WHERE rk <= $QuotaPerLang
      ORDER BY lang, rk"""
    },
    "q54_embed_srp_topk" -> Similarity.srpTopPairsSql("embeddings",
      SrpBits, SrpBands, SrpTopK, EmbDims),
    "q51_dedup_components" -> Dedup.componentsSql(
      Dedup.minhashLshPairsSql("documents", "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
      "doc_id"),
    // q243's condensed-graph merge maintenance must equal q51's
    // full-corpus closure verbatim: maintain o store == rebuild
    "q243_component_append" -> Dedup.componentsSql(
      Dedup.minhashLshPairsSql("documents", "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
      "doc_id"),
    // q235's bounded-recompute maintenance must equal the closure over
    // the tombstone-filtered pipeline replay — splits included
    "q235_component_delete" -> Dedup.componentsSql(
      Dedup.minhashLshPairsSql(
        "(SELECT * FROM documents WHERE NOT " +
          s"(doc_id % $DedupDelMod = $DedupDelRem)) live",
        "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
      "doc_id"),
    // identical result to q51 by design — two algorithms, one contract
    "q76_components_star" -> Dedup.componentsSql(
      Dedup.minhashLshPairsSql("documents", "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
      "doc_id"),
    "q56_repetition_stats" -> s"""
      WITH w AS (
        SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      uni AS (
        SELECT doc_id, len(w) AS n_words, unnest(w) AS t FROM w),
      uc AS (
        SELECT doc_id, n_words, t, count(*) AS n FROM uni GROUP BY 1, 2, 3),
      us AS (
        SELECT doc_id, n_words, count(*) AS n_distinct, max(n) AS top_word_n
        FROM uc GROUP BY 1, 2),
      big AS (
        SELECT doc_id, unnest(CASE WHEN len(w) >= 2
          THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
          ELSE [] END) AS t FROM w),
      bc AS (SELECT doc_id, t, count(*) AS n FROM big GROUP BY 1, 2),
      bs AS (SELECT doc_id, max(n) AS top_bigram_n FROM bc GROUP BY 1)
      SELECT us.doc_id, n_words::INT AS n_words, n_distinct::INT AS n_distinct,
        top_word_n::INT AS top_word_n,
        coalesce(top_bigram_n, 0)::INT AS top_bigram_n,
        ${droundSql("n_distinct::DOUBLE / n_words", 6)} AS distinct_ratio,
        ${droundSql("top_word_n::DOUBLE / n_words", 6)} AS top_word_frac,
        ${droundSql(
          "coalesce(top_bigram_n, 0)::DOUBLE / greatest(n_words - 1, 1)", 6)}
          AS top_bigram_frac
      FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
      ORDER BY us.doc_id""",
    "q57_novel_docs" -> novelDocsOracle,
    "q59_sequence_packing" -> Packing.packGreedySql("documents", "doc_id",
      "text", "lang", PackCapacity, PackShards, "lang, shard, doc_id"),
    // identical result to q57 by design — the bloom is a pre-filter with
    // no false negatives, so the oracle is the same shared NOT EXISTS
    "q62_bloom_novel_docs" -> novelDocsOracle,
    "q63_decontaminate" -> s"""
      WITH sh AS (
        SELECT doc_id, source,
          unnest(${wordShinglesSql("text", DecontamN)}) AS s
        FROM documents),
      es AS (SELECT DISTINCT s FROM sh WHERE source = '$EvalSource'),
      cs AS (SELECT doc_id, s FROM sh WHERE source <> '$EvalSource')
      SELECT cs.doc_id, count(DISTINCT cs.s) AS n_shared
      FROM cs JOIN es USING (s)
      GROUP BY cs.doc_id
      ORDER BY cs.doc_id""",
    "q65_minhash_estimate" -> Dedup.minhashEstimatePairsSql("documents",
      "doc_id", "text", WordShingleN, MinhashK, MinhashBands, MinhashTau,
      "id_a, id_b"),
    "q66_mixture_upsample" -> {
      val gate = s"${xhashSql("'mix:' || doc_id::VARCHAR")} % 100"
      val nRepeats = mixParts.map { case (l, base, fracPct) =>
        s"WHEN '$l' THEN $base + (CASE WHEN $gate < $fracPct THEN 1 ELSE 0 END)"
      }.mkString("CASE lang ", " ", " ELSE 1 END")
      s"""
      SELECT doc_id, lang, n_repeats,
        unnest(range(1, n_repeats + 1))::INT AS copy_idx
      FROM (SELECT doc_id, lang, ($nRepeats)::INT AS n_repeats FROM documents)
      ORDER BY doc_id, copy_idx"""
    },
    "q67_term_stats" -> s"""
      SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM documents)
      GROUP BY term
      ORDER BY tf DESC, term
      LIMIT $TermTopK""",
    "q64_normalize_text" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
        "'[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))"
      s"""
      SELECT doc_id, $norm AS norm_text,
        length($norm)::INT AS norm_len,
        ${graft.core.Determinism.xhashSql(norm)} AS norm_fp
      FROM documents ORDER BY doc_id"""
    },
    "q60_token_deciles" -> s"""
      SELECT lang, decile, count(*) AS n_docs,
        min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
      FROM (
        SELECT lang, doc_id, ${tokenCountSql("text")} AS n_tokens,
          (ntile(10) OVER (PARTITION BY lang
             ORDER BY ${tokenCountSql("text")}, doc_id))::INT AS decile
        FROM documents)
      GROUP BY lang, decile
      ORDER BY lang, decile""",
    "q43_array_ops" -> s"""
      SELECT vec_id,
        len(embedding)::INT AS dim,
        len(list_filter(embedding, x -> x > 0))::INT AS n_pos,
        ${droundSql("list_sum(list_transform(embedding, x -> x::DOUBLE))", 6)} AS sum_elems,
        ${droundSql("list_max(embedding)::DOUBLE", 6)} AS max_elem,
        ${droundSql("list_min(embedding)::DOUBLE", 6)} AS min_elem
      FROM embeddings ORDER BY vec_id""",
    "q72_doc_chunks" -> {
      val slice = s"list_slice(w, chunk_id * $ChunkStride + 1, " +
        s"chunk_id * $ChunkStride + $ChunkTokens)"
      s"""
      WITH base AS (
        SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      sized AS (
        SELECT doc_id, w, len(w) AS n_words,
          greatest(0, floor((len(w) - $ChunkTokens + $ChunkStride - 1)
            / $ChunkStride)::INT) AS k
        FROM base),
      chunks AS (
        SELECT doc_id, w, unnest(range(0, k + 1))::INT AS chunk_id FROM sized)
      SELECT doc_id, chunk_id,
        len($slice)::INT AS n_tokens,
        ${xhashSql(s"array_to_string($slice, ' ')")} AS chunk_fp
      FROM chunks
      ORDER BY doc_id, chunk_id"""
    },
    "q73_tfidf_terms" -> s"""
      WITH terms AS (
        SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(1) AS tf FROM terms GROUP BY 1, 2),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      n AS (SELECT count(1) AS n_docs FROM documents)
      SELECT doc_id, rk, term, tf, df, tfidf FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
          ${droundSql("tf.tf * ln((n.n_docs + 1)::DOUBLE / (df.df + 1))", 6)}
            AS tfidf,
          (row_number() OVER (PARTITION BY tf.doc_id ORDER BY
            ${droundSql("tf.tf * ln((n.n_docs + 1)::DOUBLE / (df.df + 1))", 6)}
              DESC, tf.term))::INT AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n)
      WHERE rk <= $TfidfTopK
      ORDER BY doc_id, rk""",
    "q74_dedup_corpus" -> s"""
      $dedupSurvivorsOracleCtes
      SELECT doc_id, fp FROM surv
      ORDER BY doc_id""",
    "q78_rank_correlation" -> {
      val tokens = s"${tokenCountSql("text")}::DOUBLE"
      val punctR = s"${punctCountSql("text")}::DOUBLE / length(text)"
      val stopR = s"${lexiconHitsSql("text", EnglishStopwords)}::DOUBLE / ($tokens)"
      val score = droundSql(
        s"least($tokens / 100.0, 1.0) * 0.4 + (1.0 - ($punctR)) * 0.3 + ($stopR) * 0.3", 6)
      s"""
      WITH b AS (
        SELECT doc_id, lang, ${tokenCountSql("text")} AS x, $score AS y
        FROM documents),
      r AS (
        SELECT lang,
          row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rx,
          row_number() OVER (PARTITION BY lang ORDER BY y, doc_id) AS ry
        FROM b)
      SELECT lang, count(1) AS n_docs,
        ${droundSql(
          "1.0 - (6.0 * sum((rx - ry) * (rx - ry))) / (count(1) * (count(1) * count(1) - 1))", 6)}
          AS spearman
      FROM r GROUP BY lang
      ORDER BY lang"""
    },
    "q81_chunk_containment" -> {
      val slice = s"list_slice(w, chunk_id * $ChunkStride + 1, " +
        s"chunk_id * $ChunkStride + $ChunkTokens)"
      s"""
      WITH base AS (
        SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      sized AS (
        SELECT doc_id, w,
          greatest(0, floor((len(w) - $ChunkTokens + $ChunkStride - 1)
            / $ChunkStride)::INT) AS k
        FROM base),
      ch AS (
        SELECT doc_id, w, unnest(range(0, k + 1))::INT AS chunk_id FROM sized),
      fps AS (
        SELECT DISTINCT doc_id,
          ${xhashSql(s"array_to_string($slice, ' ')")} AS chunk_fp
        FROM ch),
      keep AS (
        SELECT chunk_fp FROM fps GROUP BY chunk_fp
        HAVING count(1) <= $StopChunkDf),
      kept AS (SELECT f.* FROM fps f JOIN keep USING (chunk_fp)),
      sizes AS (SELECT doc_id, count(1) AS n_chunks_a FROM fps GROUP BY doc_id),
      shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS shared
        FROM kept a JOIN kept b
          ON a.chunk_fp = b.chunk_fp AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared, n_chunks_a,
        shared::DOUBLE / n_chunks_a AS containment
      FROM shared JOIN sizes ON doc_a = sizes.doc_id
      WHERE shared::DOUBLE / n_chunks_a >= $ContainTau
      ORDER BY doc_a, doc_b"""
    },
    "q82_doc_rarity" -> s"""
      WITH terms AS (
        SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM documents),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      j AS (
        SELECT doc_id, count(1) AS n_tokens, sum(df) AS sum_df,
          sum(CASE WHEN df <= $RareDf THEN 1 ELSE 0 END)::BIGINT AS n_rare
        FROM terms JOIN df USING (term) GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_rare,
        ${droundSql("sum_df::DOUBLE / n_tokens", 4)} AS mean_df,
        ${droundSql("n_rare::DOUBLE / n_tokens", 6)} AS rare_ratio
      FROM j ORDER BY doc_id""",
    "q83_pii_redact" -> {
      val enriched = "(text || ' contact user' || doc_id::VARCHAR || " +
        "'@example.com from 10.0.' || (doc_id % 256)::VARCHAR || '.77 ref ' || " +
        "(100000 + doc_id)::VARCHAR)"
      s"""
      SELECT doc_id,
        len(regexp_extract_all($enriched, '$PiiEmailRe'))::INT AS n_emails,
        len(regexp_extract_all($enriched, '$PiiIpRe'))::INT AS n_ips,
        len(regexp_extract_all($enriched, '$PiiNumRe'))::INT AS n_nums,
        regexp_replace(regexp_replace(regexp_replace($enriched,
          '$PiiEmailRe', '<EMAIL>', 'g'),
          '$PiiIpRe', '<IP>', 'g'),
          '$PiiNumRe', '<NUM>', 'g') AS redacted
      FROM documents ORDER BY doc_id"""
    },
    "q84_kmeans_lloyd" ->
      Similarity.kmeansLloydSql("embeddings", KmK, KmRounds),
    "q77_embed_quantize" -> s"""
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings),
      sc AS (
        SELECT vec_id, e,
          CASE WHEN amax = 0.0 THEN 1.0 ELSE amax / 127.0 END AS scale
        FROM (SELECT vec_id, e,
          list_max(list_transform(e, x -> abs(x))) AS amax FROM base)),
      q AS (
        SELECT vec_id, e, scale,
          list_transform(e, x ->
            least(greatest(round(x / scale), -127.0), 127.0)) AS qv
        FROM sc)
      SELECT vec_id,
        ${droundSql("scale", 8)} AS scale,
        len(list_filter(qv, v -> abs(v) = 127.0))::INT AS n_saturated,
        ${droundSql(
          "list_max(list_transform(range(1, len(e) + 1), i -> abs(e[i] - qv[i] * scale)))", 8)}
          AS max_abs_err,
        ${droundSql(
          "list_sum(list_transform(range(1, len(e) + 1), i -> (e[i] - qv[i] * scale) * (e[i] - qv[i] * scale))) / len(e)", 10)}
          AS mse
      FROM q
      ORDER BY vec_id"""
  )
}
