package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, DocPipeline, Ivf, NearDup, Packing, Sampling, Similarity, VectorQuant}

/** Extension query surface: the operators a large-scale training-data
  * pipeline needs beyond the reference's own inventory — deduplication
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard), text analysis, and
  * similarity search over embeddings. Rows-only entries (no DuckDB oracle)
  * are hash-based algorithms whose primitives (xxhash64) the oracle engine
  * lacks; each is covered by ScalaTest golden/property specs instead.
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val stop = Seq("the", "a")

  /** Token statistics per document — ONE single-pass stats struct per row
    * (custom expression), fields derived from it. */
  def q20TokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.tokenStats(col("text")).as("__st"))
      .select(
        col("doc_id"),
        col("__st.n_tokens").as("n_tokens"),
        col("__st.n_uniq").as("n_uniq"),
        ((length(col("text")) - (col("__st.n_tokens") - lit(1)))
          .cast("double") / col("__st.n_tokens")).as("avg_token_len"))

  /** Quality scoring: lexical diversity, stopword ratio, composite score —
    * all three measures off one materialized stats struct. */
  def q21TextQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenStats(col("text"), stop).as("__st"))
      .select(
        col("doc_id"),
        (col("__st.n_uniq").cast("double") /
          col("__st.n_tokens")).as("uniq_ratio"),
        (col("__st.n_stop").cast("double") /
          col("__st.n_tokens")).as("stop_ratio"),
        TextFunctions.qualityScoreFromStats(col("__st")).as("quality"))

  /** Exact dedup summary: one row per distinct content digest. */
  def q22DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSummary(t(s, dir, "documents"), "text", "doc_id")

  /** Language ID via function-word profiles (declared lang kept for
    * comparison). */
  def q23LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFunctions.languageId(col("text")).as("predicted_lang"))

  /** Whitespace-normalized exact content fingerprint (md5). */
  def q24Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"))

  /** Order-sensitive rolling-hash fingerprint (xxhash64-based; no oracle). */
  def q25RollingFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.rollingHash(col("text")).as("rolling_hash"))

  /** Rolling-fingerprint INTEGRITY on the oracle-checkable surface —
    * the q25 family's raw xxhash64 values can never be DuckDB-replayed,
    * but their equality STRUCTURE can: the chained fold is
    * deterministic in the token sequence and 64-bit collision-free at
    * corpus scale, so fingerprint-equality classes must coincide
    * exactly with normalized-token-text equality classes, which DuckDB
    * computes directly (q24's proven tokenization equivalence).
    * Exported: per-doc duplicate-group size BY FINGERPRINT; the oracle
    * groups by normalized text. An order-insensitive fold, a dropped
    * token, cross-partition nondeterminism, or a collision all split or
    * merge a class and hash-mismatch. */
  def q175FingerprintClasses(s: SparkSession, dir: String): DataFrame = {
    val fp = t(s, dir, "documents").select(col("doc_id"),
      TextFunctions.rollingHash(col("text")).as("fp"))
    val sizes = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("dup_group_size"))
    fp.join(sizes, "fp").select(col("doc_id"), col("dup_group_size"))
      .orderBy(col("doc_id"))
  }

  /** MinHash LSH banding (signature layer; no oracle). */
  def q26MinhashBands(s: SparkSession, dir: String): DataFrame =
    NearDup.minhashBands(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, bands = 8, rowsPerBand = 2)

  /** MinHash near-dup candidate pairs verified with exact Jaccard over
    * token sets (no oracle). */
  def q27MinhashPairs(s: SparkSession, dir: String): DataFrame =
    NearDup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 2, bands = 8, rowsPerBand = 2, threshold = 0.5)

  /** SimHash signatures + banded near-dup pairs by Hamming distance
    * (no oracle). */
  def q28SimhashPairs(s: SparkSession, dir: String): DataFrame =
    NearDup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
      bands = 4, maxHamming = 16)

  /** The document-pipeline COMPOSITION's construction-pinned oracle —
    * q60's machinery was the last family whose end-to-end output had no
    * oracle-backed sibling (its minhash stage is xxhash64-based). The
    * planted regime makes the composition's output a plain SQL
    * expression: doc 2k holds base text A_k, doc 2k+1 holds A_k twice
    * — texts UNEQUAL, so exact dedup cannot collapse the pair, but
    * their 2-gram shingle SETS differ by one boundary shingle
    * (J = 11/12), far above the 0.5 threshold and dense enough that
    * banding catches every twin (per-pair full-miss probability
    * 0.16^8 ≈ 4e-7, deterministic, verified at the gate SF); unrelated
    * docs share no tokens. Lang/quality gates are made vacuous
    * (allowedLangs = the planted text's own language-id label,
    * minQuality = -1), so the composition under test is exact dedup →
    * near-dup clustering → min-id keeper — whose survivors are exactly
    * the EVEN doc ids. A twin slipping through, a keeper picking the
    * wrong copy, or a lost cluster all hash-mismatch. */
  /** Deterministic prefix cap for the planted-oracle corpora (q73/q74/
    * q176/q177): every mathematical property the constructions argue
    * (twin jaccard, pigeonhole banding, token-disjointness of distinct
    * bases) is per-pair and independent of corpus size, so a `doc_id <
    * cap` prefix preserves the oracle discipline while keeping these
    * gate entries from re-running the full near-dup machinery over the
    * whole documents table (~6.5 s of catalog bench at sf0.1). The SQL
    * oracles mirror the same predicate. sf0.01 (500 docs) is below the
    * cap, so the correctness gate's corpus is unchanged. */
  private val PlantedCap = 1000

  def q177PlantedDocPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < PlantedCap).select(col("doc_id"),
      when(col("doc_id") % 2 === 0, plantedText(col("doc_id")))
        .otherwise(concat_ws(" ", plantedText(col("doc_id") - 1),
          plantedText(col("doc_id") - 1))).as("text"))
    val lid = docs.select(
      TextFunctions.languageId(col("text"))).head().getString(0)
    DocPipeline.clean(docs, "doc_id", "text",
        DocPipeline.Config(allowedLangs = Seq(lid), minQuality = -1.0,
          shingleSize = 2, jaccardThreshold = 0.5),
        collectStats = false)
      .cleaned.select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** The simhash family's construction-pinned oracle (q171/q74
    * discipline — q28's raw signatures and distances can never be
    * DuckDB-replayed, but a PLANTED regime makes the full pipeline's
    * OUTPUT predictable): doc 2k+1 carries doc 2k's exact text, so twin
    * signatures are identical (hamming 0); with maxHamming = 3 < bands
    * = 4 the banding is EXACT by pigeonhole (a pair within distance 3
    * differs in at most 3 of 4 slices — one slice must match), so no
    * twin can be missed; and unrelated planted texts share no tokens,
    * putting their signature distance near Binomial(64, ½) — the
    * probability any such pair lands ≤ 3 is ~2e-15 per pair, so the
    * accepted set is EXACTLY the twin pairs at hamming 0, a plain SQL
    * expression. A missed twin (broken banding), a phantom pair
    * (broken distance), or a wrong distance value all hash-mismatch. */
  def q176PlantedSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < PlantedCap)
      .select(col("doc_id"),
        plantedText(col("doc_id") - col("doc_id") % 2).as("text"))
    NearDup.simhashPairs(docs, "doc_id", "text",
      bands = 4, maxHamming = 3)
  }

  /** The planted twin corpus the band-layer oracles run over: docs 2k
    * and 2k+1 carry IDENTICAL text, distinct bases share no tokens. */
  private def plantedTwins(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < PlantedCap)
      .select(col("doc_id"),
        plantedText(col("doc_id") - col("doc_id") % 2).as("text"))

  /** q26's BAND LAYER pinned by construction (the q175 equality-class
    * discipline): raw band hashes are xxhash64-derived and can never be
    * DuckDB-replayed, but their BUCKET STRUCTURE can. Over the planted
    * twin corpus, minhash is a deterministic function of the shingle
    * SET, so twins agree on every signature slot and land together in
    * all 8 band buckets; distinct bases have disjoint shingle sets, so
    * slot agreement needs an exact 64-bit hash collision and the
    * 64-bit band key needs two — structurally absent at any SF.
    * Exported: per (doc, band) bucket size, which the oracle states as
    * the planted base's twin count. Nondeterministic signatures (a
    * per-partition seed), a dropped band, bucket-key instability, or a
    * spurious cross-doc collision all hash-mismatch. */
  def q184MinhashBandClasses(s: SparkSession, dir: String): DataFrame = {
    val bandsDf = NearDup.minhashBands(plantedTwins(s, dir), "doc_id",
      "text", shingleSize = 3, bands = 8, rowsPerBand = 2)
    val sizes = bandsDf.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_size"))
    bandsDf.join(sizes, Seq("band", "band_hash"))
      .select(col("doc_id"), col("band"), col("bucket_size"))
      .orderBy(col("doc_id"), col("band"))
  }

  /** q28's SIGNATURE LAYER pinned by construction: simhash is a
    * deterministic per-bit majority vote over the token multiset, so
    * twins produce bit-identical 64-bit signatures; unrelated planted
    * texts agree on any given bit with p ≈ 0.525 (12-token votes with
    * a tie-to-zero bias), so a full-signature collision is ~0.525^64 ≈
    * 1e-18 per pair — absent at any SF. Signature-equality classes are
    * therefore exactly the twin classes, which the oracle computes
    * from doc ids alone. NOTE the deliberate layer split: the BANDED
    * 16-bit slices of q28 DO collide across unrelated docs (~1/65536
    * per pair per band — real collisions at sf0.01 already), which is
    * precisely why the band layer is pinned via q176's
    * pigeonhole-exact PAIRS (hamming verify removes slice collisions)
    * and the signature layer is pinned here via whole-sig classes —
    * together they cover q28's machinery without a flaky oracle. */
  def q185SimhashSigClasses(s: SparkSession, dir: String): DataFrame = {
    val sigs = NearDup.simhashSignatures(plantedTwins(s, dir),
      "doc_id", "text")
    val sizes = sigs.groupBy(col("sig"))
      .agg(count(lit(1)).as("dup_group_size"))
    sigs.join(sizes, "sig")
      .select(col("doc_id"), col("dup_group_size"))
      .orderBy(col("doc_id"))
  }

  /** Gopher repetition signals over planted segment structure
    * (Rae et al. 2021 §A1.1): the corpus text carries no newlines, so
    * line structure is planted by a literal replace — every space
    * becomes a line break (lines = tokens, duplicate-rich) and every
    * ` value ` a paragraph break (multi-char separator path). Literal
    * non-regex replace has identical left-to-right semantics in both
    * engines, so the oracle replays the construction exactly. All
    * ratios are ppm integers — hash-exact across engines. */
  def q178RepetitionSegments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.dupSegmentStats(
          replaceLit(col("text"), " ", "\n"), "\n").as("__l"),
        TextFunctions.dupSegmentStats(
          replaceLit(col("text"), " value ", "\n\n"), "\n\n").as("__p"))
      .select(col("doc_id"),
        col("__l.dup_ppm").as("dup_line_ppm"),
        col("__l.dup_char_ppm").as("dup_line_char_ppm"),
        col("__p.dup_ppm").as("dup_para_ppm"),
        col("__p.dup_char_ppm").as("dup_para_char_ppm"))

  /** Most-frequent word n-gram character share for n = 2, 3, 4 — one
    * single-pass expression per n, all three in one scan-side
    * projection (nothing shuffles; at corpus scale this is a map-only
    * stage like q20/q21). */
  def q179TopNgrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.topNgramCharPpm(col("text"), 2).as("top2_ppm"),
      TextFunctions.topNgramCharPpm(col("text"), 3).as("top3_ppm"),
      TextFunctions.topNgramCharPpm(col("text"), 4).as("top4_ppm"))

  /** Duplicated n-gram character coverage (n = 5 and 8) over a planted
    * construction: the raw corpus has NO repeated 5-grams (checked at
    * sf0.01), so a prefix echo `text ⧺ ' ' ⧺ substr(text, 1, 97)`
    * plants coverage whose exact extent the oracle replays. */
  def q180DupNgrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" "),
          substring(col("text"), 1, 97)).as("__t"))
      .select(col("doc_id"),
        TextFunctions.dupNgramCharPpm(col("__t"), 5).as("dup5_ppm"),
        TextFunctions.dupNgramCharPpm(col("__t"), 8).as("dup8_ppm"))

  /** The FUSED thirteen-signal Gopher repetition struct
    * ([[org.apache.spark.sql.graft.GopherRepetitionStats]] — one
    * tokenization per row instead of thirteen, the shape
    * `gopherRepetitionOk` actually runs) over a planted construction
    * that makes every field non-degenerate at once: ` value ` becomes
    * a paragraph break, ` table ` a line break (so line- and
    * paragraph-segment stats both see real structure in the SAME
    * text), and a 151-char prefix echo plants duplicated 5..10-grams.
    * The oracle replays the construction and all thirteen signals —
    * the fused expression is pinned directly, not transitively via
    * the standalone siblings. */
  def q181GopherFused(s: SparkSession, dir: String): DataFrame = {
    val t0 = replaceLit(replaceLit(col("text"), " value ", "\n\n"),
      " table ", "\n")
    val planted = concat(t0, lit("\n"), substring(t0, 1, 151))
    val fields =
      Seq("dup_line_ppm", "dup_line_char_ppm", "dup_para_ppm",
        "dup_para_char_ppm", "top2_ppm", "top3_ppm", "top4_ppm") ++
        (5 to 10).map(n => s"dup${n}_ppm")
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.gopherRepetitionStats(planted).as("__r"))
      .select(col("doc_id") +: fields.map(f => col(s"__r.$f").as(f)): _*)
  }

  /** The seven NON-repetition Gopher quality signals
    * ([[org.apache.spark.sql.graft.GopherQualityStats]] — word count,
    * mean word length, symbol ratio, alpha-word fraction,
    * bullet/ellipsis line fractions, required-word hits) over a
    * planted construction that makes every field non-degenerate: the
    * corpus carries no newlines or symbols, so ` agg ` becomes
    * ` and ` (required-word variation beyond the natural `the`),
    * ` key ` becomes ` # ` (symbol + non-alpha word), ` data `
    * becomes `...⏎` (ellipsis line ends + symbol), ` value ` becomes
    * `⏎• ` (bullet line starts), and ` table ` a plain line break.
    * Literal left-to-right replace replays exactly in DuckDB; every
    * export is an exact ppm long. */
  def q182GopherQuality(s: SparkSession, dir: String): DataFrame = {
    val planted =
      replaceLit(replaceLit(replaceLit(replaceLit(replaceLit(col("text"),
        " agg ", " and "),
        " key ", " # "),
        " data ", "...\n"),
        " value ", "\n• "),
        " table ", "\n")
    val fields = Seq("n_words", "word_len_ppm", "symbol_ppm",
      "alpha_word_ppm", "bullet_line_ppm", "ellipsis_line_ppm",
      "required_hits")
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.gopherQualityStats(planted).as("__q"))
      .select(col("doc_id") +: fields.map(f => col(s"__q.$f").as(f)): _*)
  }

  /** q181's oracle: the thirteen-signal replay assembled from the same
    * verified SQL shapes as q178 (segment stats), q179 (top n-gram
    * argmax), q180 (duplicated n-gram coverage), parameterized over n
    * instead of copied per n. */
  private def q181OracleSql: String = {
    def top(n: Int): String = {
      val gram = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""g$n AS (SELECT doc_id, unnest(list_transform(
         |  generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
         |  i -> $gram)) AS g FROM tt),
         |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g),
         |b$n AS (SELECT doc_id, c * (length(g) - ${n - 1}) AS num FROM c$n
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, length(g) DESC) = 1)""".stripMargin
    }
    def dup(n: Int): String =
      s"""i$n AS (SELECT doc_id,
         |    unnest(generate_series(1, greatest(len(toks) - ${n - 1}, 0))) AS i
         |  FROM tt),
         |gg$n AS (SELECT i$n.doc_id, i$n.i,
         |    array_to_string(tt.toks[i$n.i : i$n.i + ${n - 1}], ' ') AS g
         |  FROM i$n JOIN tt ON tt.doc_id = i$n.doc_id),
         |c$n AS (SELECT doc_id, g, count(*) AS c FROM gg$n GROUP BY doc_id, g),
         |cov$n AS (SELECT DISTINCT doc_id, pos FROM (
         |    SELECT gg$n.doc_id,
         |      unnest(generate_series(gg$n.i, gg$n.i + ${n - 1})) AS pos
         |    FROM gg$n JOIN c$n ON c$n.doc_id = gg$n.doc_id AND c$n.g = gg$n.g
         |    WHERE c$n.c >= 2)),
         |d$n AS (SELECT cov$n.doc_id, sum(length(tt.toks[cov$n.pos])) AS dch
         |  FROM cov$n JOIN tt ON tt.doc_id = cov$n.doc_id
         |  GROUP BY cov$n.doc_id)""".stripMargin
    def seg(alias: String, sepSql: String): String =
      s"""${alias}seg AS (
         |  SELECT doc_id, seg FROM (
         |    SELECT doc_id, unnest(string_split(t, $sepSql)) AS seg FROM pl)
         |  WHERE length(seg) > 0),
         |${alias}c AS (SELECT doc_id, seg, count(*) AS c FROM ${alias}seg
         |  GROUP BY doc_id, seg),
         |${alias}a AS (SELECT doc_id, sum(c - 1) AS dn, sum(c) AS tn,
         |    sum((c - 1) * length(seg)) AS dch, sum(c * length(seg)) AS tch
         |  FROM ${alias}c GROUP BY doc_id)""".stripMargin
    def ratio(numSql: String): String => String = col =>
      s"""CASE WHEN tt.tch IS NULL OR tt.tch = 0 THEN NULL
         |  ELSE CAST($numSql * 1000000 // tt.tch AS BIGINT) END AS $col"""
        .stripMargin
    val topCols = (2 to 4).map(n =>
      ratio(s"coalesce(b$n.num, 0)")(s"top${n}_ppm"))
    val dupCols = (5 to 10).map(n =>
      ratio(s"coalesce(d$n.dch, 0)")(s"dup${n}_ppm"))
    s"""WITH base AS (
       |  SELECT doc_id,
       |    replace(replace(text, ' value ', chr(10)||chr(10)),
       |      ' table ', chr(10)) AS t0
       |  FROM documents),
       |pl AS (SELECT doc_id, t0 || chr(10) || substr(t0, 1, 151) AS t
       |  FROM base),
       |${seg("l", "chr(10)")},
       |${seg("p", "chr(10)||chr(10)")},
       |tt AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(t, '\\s+'),
       |      x -> length(x) > 0) AS toks,
       |    list_sum(list_transform(
       |      list_filter(regexp_split_to_array(t, '\\s+'),
       |        x -> length(x) > 0), x -> length(x))) AS tch
       |  FROM pl),
       |${(2 to 4).map(top).mkString(",\n")},
       |${(5 to 10).map(dup).mkString(",\n")}
       |SELECT tt.doc_id,
       |  CAST(la.dn * 1000000 // la.tn AS BIGINT) AS dup_line_ppm,
       |  CAST(la.dch * 1000000 // la.tch AS BIGINT) AS dup_line_char_ppm,
       |  CAST(pa.dn * 1000000 // pa.tn AS BIGINT) AS dup_para_ppm,
       |  CAST(pa.dch * 1000000 // pa.tch AS BIGINT) AS dup_para_char_ppm,
       |  ${(topCols ++ dupCols).mkString(",\n  ")}
       |FROM tt
       |LEFT JOIN la ON la.doc_id = tt.doc_id
       |LEFT JOIN pa ON pa.doc_id = tt.doc_id
       |${(2 to 4).map(n => s"LEFT JOIN b$n ON b$n.doc_id = tt.doc_id")
          .mkString("\n")}
       |${(5 to 10).map(n => s"LEFT JOIN d$n ON d$n.doc_id = tt.doc_id")
          .mkString("\n")}
       |ORDER BY tt.doc_id""".stripMargin
  }

  /** literal (non-regex) replace usable from the column API across
    * Spark versions: `replace(text, search, rep)` via expr to avoid
    * depending on the 3.5+ `functions.replace`. */
  private def replaceLit(c: Column, search: String, rep: String): Column =
    call_function("replace", c, lit(search), lit(rep))

  /** Exact n-gram Jaccard similarity join via inverted shingle index.
    * Oracle-backed since r9: every stage (DF guard, co-occurrence
    * count, rational jaccard) is deterministic, and the xxhash64'd
    * shingles share equality structure with shingle strings (64-bit
    * collision-free at corpus scale), so the DuckDB string-level replay
    * matches bit-for-bit — verified at sf0.01 AND sf0.1 before the
    * flip. */
  def q29NgramJaccard(s: SparkSession, dir: String): DataFrame =
    NearDup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, threshold = 0.2, maxDocFreq = 1000)

  /** Brute-force cosine top-k against the vec_id=0 query vector. Scores are
    * rounded to 6dp in the output (and in the oracle): Spark's and DuckDB's
    * cosine accumulation orders differ in the last ~bit (<1e-12), so the
    * raw doubles are not bit-comparable; selection still uses raw scores. */
  def q30CosineTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 20)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))

  /** Sign-LSH bucket assignment for every vector (scale path for ANN;
    * no oracle — deterministic hyperplanes seeded in-code). */
  def q31LshBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      Similarity.lshBucket(col("embedding"),
        Similarity.hyperplanes(8, 64)).as("bucket"))

  /** LSH-bucketed ANN top-k (multi-probe Hamming<=1). Selection ranks on
    * raw scores; the exported score is rounded to 6dp (q30's determinism
    * contract — the two engines' accumulation orders differ in the last
    * bit). */
  def q32LshTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, numPlanes = 8, dim = 64)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"), col("bucket"))

  /** q32 against a MATERIALIZED bucket-partitioned LSH index: multi-probe
    * becomes partition pruning (the sign-LSH analog of q68's IVF index).
    * Index written once per corpus; same output and oracle as q32. */
  def q71LshIndexed(s: SparkSession, dir: String): DataFrame = {
    val (path, qBucket, qVec) = Fixtures.once("lsh-index", dir) { p =>
      val emb = t(s, dir, "embeddings")
      Similarity.writeLshIndex(emb, "embedding", p, numPlanes = 8, dim = 64)
      val row = emb.filter(col("vec_id") === 0L).select(
        col("embedding").cast("array<double>"),
        Similarity.lshBucket(col("embedding"),
          Similarity.hyperplanes(8, 64))).collect().head
      (p, row.getLong(1), row.getSeq[Double](0))
    }
    Similarity.lshTopKIndexed(s, path, "vec_id", "embedding", qVec, qBucket,
        queryId = 0L, k = 10, numPlanes = 8)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"), col("bucket"))
  }

  /** Multi-table LSH index probe: 4 independent 4-plane tables, the
    * sign-LSH recall knob (measured recall 0.11 → 0.94 vs the single
    * 8-plane table on this corpus's diffuse neighborhoods — SCALING.md).
    * The oracle replays all four bucket computations and the OR of
    * per-table Hamming<=1 probes as plain SQL. */
  def q125MultiLsh(s: SparkSession, dir: String): DataFrame = {
    val (path, qVec) = Fixtures.once("mlsh-index", dir) { p =>
      val emb = t(s, dir, "embeddings")
      Similarity.writeMultiLshIndex(emb, "embedding", p,
        tables = 4, numPlanes = 4, dim = 64)
      val v = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0)
      (p, v)
    }
    Similarity.multiLshTopKIndexed(s, path, "vec_id", "embedding", qVec,
        queryId = 0L, k = 10, tables = 4, numPlanes = 4, dim = 64)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
  }

  /** Quantized materialized LSH index: partition-pruned probe over int8
    * vectors — the 100 TB ANN serving path (pruning AND 4× less IO per
    * touched file). Bucket choice is identical to q71; ranking runs on
    * the quantized arrays (exact-integer dots, oracle-stable). */
  def q92QuantizedLshIndexed(s: SparkSession, dir: String): DataFrame = {
    val (path, qBucket, qVec) = Fixtures.once("qlsh-index", dir) { p =>
      val emb = t(s, dir, "embeddings")
      Similarity.writeQuantizedLshIndex(emb, "vec_id", "embedding", p,
        numPlanes = 8, dim = 64)
      val row = emb.filter(col("vec_id") === 0L).select(
        col("embedding").cast("array<double>"),
        Similarity.lshBucket(col("embedding"),
          Similarity.hyperplanes(8, 64))).collect().head
      (p, row.getLong(1), row.getSeq[Double](0))
    }
    Similarity.quantizedLshTopKIndexed(s, path, "vec_id", qVec, qBucket,
        queryId = 0L, k = 10, numPlanes = 8)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"), col("bucket"))
  }

  /** Embedding-cosine near-dup pairs via banded LSH + exact verify.
    * 8 bands × 8 planes = 256 cells per band with 8 collision chances —
    * bucket sizes stay bounded at corpus scale, unlike a single fixed
    * 16-cell bucketing. Threshold filter runs on raw scores; exported
    * score rounded to 6dp. */
  def q33CosineNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.2, bands = 8, planesPerBand = 8, dim = 64)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))

  /** Batch top-k similarity join: 3 nearest neighbors for every vector
    * (LSH-bucketed candidate meet + per-query rank); score exported at
    * 6dp. */
  def q46TopKJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.topKJoin(
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        emb.select(col("vec_id").as("corpus_id"), col("embedding")),
        "query_id", "corpus_id", "embedding", k = 3, numPlanes = 8, dim = 64)
      .select(col("query_id"), col("corpus_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** IVF context per dataset: the k-means fit runs ONCE per corpus and is
    * reused by every q59/q68 invocation (training is index build, not
    * search — benching it per query was round 2's composition nit). The
    * fitted centroids/probes are also what the generated oracle SQL
    * embeds as literals, so query and oracle always share one model. */
  private final case class IvfCtx(model: Ivf.Model,
      queryVec: IndexedSeq[Double], probes: Seq[Int])
  private val ivfCtxs =
    scala.collection.concurrent.TrieMap.empty[String, IvfCtx]

  private def ivfCtx(s: SparkSession, dir: String): IvfCtx =
    ivfCtxs.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      val m = Ivf.fit(emb, "vec_id", "embedding", k = 8, iters = 3)
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0).toIndexedSeq
      IvfCtx(m, q, m.nearestClusters(q, nProbe = 2))
    })

  /** PQ model cached per dir, same discipline as [[IvfCtx]]: train once,
    * reuse across q134/q135, and generate the oracle SQL from the SAME
    * codebooks so query and oracle cannot diverge. */
  private final case class PqCtx(model: graft.operators.Pq.Model,
      queryVec: IndexedSeq[Double])
  private val pqCtxs =
    scala.collection.concurrent.TrieMap.empty[String, PqCtx]

  private def pqCtx(s: SparkSession, dir: String): PqCtx =
    pqCtxs.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      // m=8 (8-dim subspaces): measured recall@10 0.315 ADC / 0.86
      // refined vs 0.195 at m=4 on these near-worst-case embeddings
      val m = graft.operators.Pq.fit(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 3)
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0).toIndexedSeq
      PqCtx(m, q)
    })

  /** Residual-PQ model cached per dir: PQ over v − centroid(cell), the
    * production IVF-PQ form. Shares the coarse model with q59/q68 and
    * the query vector with the pq family. */
  private val resCtxs =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.Pq.Model]

  private def resModel(s: SparkSession, dir: String): graft.operators.Pq.Model =
    resCtxs.getOrElseUpdate(dir,
      graft.operators.Pq.fitResidual(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfCtx(s, dir).model, m = 8, k = 16, iters = 3))

  /** Residual IVF-PQ probe: codes quantize v − centroid(cell) (the
    * resolution goes where the coarse cell didn't already explain the
    * vector), probe = partition pruning + per-cell literal ADC tables.
    * Measured full-probe recall 0.340 vs 0.315 for raw-vector codes on
    * this near-worst-case corpus (gated relatively in PqSpec). */
  def q146ResidualIvfPq(s: SparkSession, dir: String): DataFrame = {
    val ictx = ivfCtx(s, dir)
    val pctx = pqCtx(s, dir)
    val rm = resModel(s, dir)
    val path = Fixtures.once("respq-index", dir) { p =>
      graft.operators.Pq.writeResidualIndex(t(s, dir, "embeddings"),
        "vec_id", "embedding", ictx.model, rm, p)
      p
    }
    graft.operators.Pq.adcTopKResidualIndexed(s, path, "vec_id", rm,
        ictx.model, pctx.queryVec, queryId = 0L, k = 10, nProbe = 2)
      .select(col("vec_id"), col("cluster"), col("pq_code"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** Product-quantization codes: 64-dim float vectors → one BIGINT of
    * four 8-bit lanes (32× footprint cut). Pure integer output — the
    * oracle replays the subspace argmin from the same literal codebooks
    * and must match the packed code EXACTLY, which pins the entire
    * assignment arithmetic cross-engine. */
  def q134PqCodes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pq.encode(t(s, dir, "embeddings"), "vec_id",
      "embedding", pqCtx(s, dir).model)

  /** PQ asymmetric-distance top-k: m literal-table lookups per row over
    * the packed codes, global top-10 by ADC distance. The scan reads
    * 8-byte codes, never vectors — the shape that holds at 100 TB. */
  def q135PqTopK(s: SparkSession, dir: String): DataFrame = {
    val ctx = pqCtx(s, dir)
    graft.operators.Pq.topK(t(s, dir, "embeddings"), "vec_id", "embedding",
        ctx.model, ctx.queryVec, queryId = 0L, k = 10)
      .select(col("vec_id"), col("pq_code"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** PQ + exact rerank (the IVF-PQ "refine" stage): ADC prunes the
    * corpus to 100 candidate ids, only those rows' full vectors are
    * scored exactly (broadcast semi join) — measured recall@10 0.86 vs
    * 0.315 for pure ADC at 100× less full-vector reading. */
  def q136PqRefined(s: SparkSession, dir: String): DataFrame = {
    val ctx = pqCtx(s, dir)
    graft.operators.Pq.topKRefined(t(s, dir, "embeddings"), "vec_id",
        "embedding", ctx.model, ctx.queryVec, queryId = 0L, k = 10,
        candidates = 100)
      .select(col("vec_id"), round(col("l2sq"), 6).as("l2sq"))
  }

  /** IVF-PQ: the coarse IVF cells (q59's model) partition a codes table
    * whose rows are (id, packed 8-byte PQ code) — probe = partition
    * pruning, ranking = ADC over codes. The billion-scale serving
    * layout: index bytes ≈ 8·N, probed fraction ≈ nProbe/k. */
  private def ivfpqIndex(s: SparkSession, dir: String): String = {
    val ictx = ivfCtx(s, dir)
    val pctx = pqCtx(s, dir)
    Fixtures.once("ivfpq-index", dir) { p =>
      graft.operators.Pq.writeIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", ictx.model, pctx.model, p)
      p
    }
  }

  def q137IvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val ictx = ivfCtx(s, dir)
    val pctx = pqCtx(s, dir)
    graft.operators.Pq.adcTopKIndexed(s, ivfpqIndex(s, dir), "vec_id",
        pctx.model, ictx.model, pctx.queryVec, queryId = 0L, k = 10,
        nProbe = 2)
      .select(col("vec_id"), col("cluster"), col("pq_code"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** IVF-PQ + exact rerank: pruned ADC probe nominates 100 candidates,
    * only those full vectors are read and scored exactly — quantization
    * error only costs recall when a true neighbor misses the pool. */
  def q138IvfPqRefined(s: SparkSession, dir: String): DataFrame = {
    val ictx = ivfCtx(s, dir)
    val pctx = pqCtx(s, dir)
    graft.operators.Pq.topKRefinedIndexed(s, ivfpqIndex(s, dir),
        t(s, dir, "embeddings"), "vec_id", "embedding", pctx.model,
        ictx.model, pctx.queryVec, queryId = 0L, k = 10, candidates = 100,
        nProbe = 2)
      .select(col("vec_id"), round(col("l2sq"), 6).as("l2sq"))
  }

  /** IVF ANN search: probe-limited cosine top-k over the 2 cells nearest
    * the query (assignment inlined as a projection; model cached). */
  def q59IvfTopK(s: SparkSession, dir: String): DataFrame =
    Ivf.topK(t(s, dir, "embeddings"), "vec_id", "embedding",
        ivfCtx(s, dir).model, queryId = 0L, k = 10, nProbe = 2)
      .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cos"))

  /** IVF ANN search against the MATERIALIZED index: the corpus written
    * once per model partitioned by cluster, so the probe is partition
    * pruning over ~nProbe/k of the files (the 100 TB path — IvfSpec
    * asserts the pruned scan). */
  def q68IvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val ctx = ivfCtx(s, dir)
    val path = Fixtures.once("ivf-index", dir) { p =>
      Ivf.writeIndex(t(s, dir, "embeddings"), "embedding", ctx.model, p)
      p
    }
    Ivf.topKIndexed(s, path, "vec_id", "embedding", ctx.queryVec, ctx.model,
        queryId = 0L, k = 10, nProbe = 2)
      .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cos"))
  }

  /** Quantized IVF index probe: cluster partition pruning over int8
    * binary vectors — the probed files are a quarter the bytes of q68's
    * (the q92 treatment applied to the IVF family). */
  def q98QuantizedIvf(s: SparkSession, dir: String): DataFrame = {
    val ctx = ivfCtx(s, dir)
    val path = Fixtures.once("qivf-index", dir) { p =>
      Ivf.writeQuantizedIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
        ctx.model, p)
      p
    }
    Ivf.quantizedTopKIndexed(s, path, "vec_id", ctx.queryVec, ctx.model,
        queryId = 0L, k = 10, nProbe = 2)
      .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cos"))
  }

  /** Incremental near-dup against the MATERIALIZED minhash index — the
    * continuous-crawl serving path: every 10th doc stands in as today's
    * batch, the rest as the already-indexed corpus; the probe reads only
    * the index tables (banded longs + inverted shingle index), never the
    * corpus text (NearDupIndexSpec asserts the scan set). Texts are the
    * [[plantedText]] construction: batch doc b (b ≡ 0 mod 10) is the
    * twin of index doc b+1 (b+1 ≡ 1 mod 10, always indexed), all other
    * docs pairwise-disjoint — so build + probe through the full banded
    * index must emit EXACTLY {(b, b+1, 1.0)}, hash-checkable by a plain
    * DuckDB join (r7 verdict item 4; was rows-only). */
  def q86IncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), plantedText(
        when(col("doc_id") % 10 === 0, col("doc_id") + 1)
          .otherwise(col("doc_id"))).as("text"))
    val path = Fixtures.once("nd-index", dir) { p =>
      graft.operators.NearDupIndex.write(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", p)
      p
    }
    graft.operators.NearDupIndex.probe(s, path,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      threshold = 0.5)
  }

  /** SemDeDup semantic dedup over the corpus embeddings: k-means cells
    * from the cached IVF model, drop any vector with cosine > 0.2 to a
    * lower-id vector of the same cell (min id = deterministic keeper).
    * Oracle: literal-centroid assignment + NOT EXISTS, generated with
    * the IVF oracles. */
  def q84SemanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemDedup.semanticDedup(t(s, dir, "embeddings"),
      "vec_id", "embedding", ivfCtx(s, dir).model, threshold = 0.2)

  /** Per-language stratified sampling (corpus rebalancing): English
    * downsampled to 30%, the low-resource languages kept at higher
    * fractions, unlisted languages dropped — one scan-side hash-bucket
    * filter, no shuffle, engine-portable. */
  def q85StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.3, "de" -> 0.8, "fr" -> 1.0, "zh" -> 0.5))
      .select(col("doc_id"), col("lang"))

  /** Deterministic 50% subsample + train/val/test split assignment over
    * the corpus — the md5-hex-bucket discipline: engine-portable
    * (DuckDB reproduces it bit-for-bit, which is the oracle), scan-side
    * (no shuffle, no RNG state), and stable under re-partitioning. */
  def q75HashSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.assignSplits(
      Sampling.deterministicSample(t(s, dir, "documents"), "doc_id", 0.5),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))

  /** Per-language document cap (class balancing): at most 20 docs per
    * lang, chosen deterministically by hash order. */
  def q76GroupCap(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(t(s, dir, "documents"), Seq("lang"), "doc_id", 20)
      .select(col("doc_id"), col("lang"))

  /** L2-normalized embeddings (single-pass codegen expression). Export is
    * the q37 exact-integer discipline: each element of the unit vector
    * scaled by 1e6 and rounded to a long — string formatting of raw
    * doubles differs between engines, integers don't. The norm is
    * sqrt(dot(v,v)) with ascending-index accumulation on both engines
    * (the q30/q31 bit-identity contract), and both sides divide (not
    * multiply by a reciprocal), so the longs match exactly. */
  def q77VectorNorm(s: SparkSession, dir: String): DataFrame = {
    val unit = graft.expressions.GraftFunctions.l2Normalize(
      col("embedding").cast("array<double>"))
    t(s, dir, "embeddings").select(col("vec_id"),
      array_join(transform(unit,
        x => round(x * 1000000).cast("long").cast("string")), ",")
        .as("unit_x1e6"))
  }

  /** Per-group embedding centroids (the IVF centroid-refresh shape):
    * posexplode → partial-agg — the shuffle carries (grp, pos, partial
    * sums), never vectors. Element sums run in exact DECIMAL and cast to
    * double BEFORE the count division, so the result is bit-identical at
    * any parallelism and to the oracle. */
  def q78GroupCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select((col("vec_id") % 8).as("grp"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "e")))
      .groupBy(col("grp"), col("pos").cast("long").as("pos"))
      // decimal sum = deterministic at any parallelism; the 6dp export
      // rounding is the q30 cross-engine contract (the two engines'
      // double->decimal CAST rounding differs in the last decimal digit)
      .agg(round(sum(col("e").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("c"))

  /** Train/eval decontamination: docs with doc_id % 50 == 0 stand in as
    * the eval set; every other doc is flagged with its count of shared
    * word 8-grams. Spark meets DISTINCT xxhash64'd shingles; the oracle
    * meets the raw n-gram strings — identical counts (hashing is
    * injective at corpus scale), so the op is fully oracle-checked. */
  def q82Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Decontaminate.overlapCounts(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 8)
  }

  /** q82 through the Bloom-prefiltered path: the codegen'd
    * might_contain probe drops clean shingles at the scan, the exact
    * meet discharges false positives — same rows as q82 by
    * construction, same oracle. */
  def q117BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Decontaminate.overlapCountsBloom(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 8, expectedEvalShingles = 100000L)
  }

  /** Intra-document repetition: fraction of word 3-grams that are
    * repeats (1 − distinct/total) — the classic repeated-n-gram quality
    * filter. One scan-side shingle explode + hash aggregate; docs with
    * fewer than 3 tokens produce no grams and are absent. */
  def q83Repetition(s: SparkSession, dir: String): DataFrame =
    NearDup.shingleRows(t(s, dir, "documents"), "doc_id", "text", 3)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("sh")).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
          .as("rep_ratio"))

  /** Token budgeting both ways: whitespace count (split contract) and
    * the BPE-ish pre-tokenizer segment count, side by side. */
  def q81BpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      size(split(col("text"), "\\s+")).as("n_tokens_ws"),
      TextFunctions.bpeTokenCount(col("text")).as("n_tokens_bpe"))

  /** PII / boilerplate scrub: URLs then emails replaced with typed
    * placeholders, plus the span count — one scan-side regex pass. The
    * patterns are written in the Java∩RE2 common dialect so the oracle
    * runs the identical pattern text. */
  def q79Redact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.redact(col("text")).as("clean_text"),
      TextFunctions.redactionCount(col("text")).as("n_redacted"))

  /** Sequence packing: per-language token-budget bin assignment (512
    * tokens) — deterministic integer arithmetic over a sharded window,
    * never a global ordering. */
  def q80PackBins(s: SparkSession, dir: String): DataFrame =
    Packing.packBins(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).as("n_tokens")),
      "doc_id", "n_tokens", Seq("lang"), targetTokens = 512)

  /** Per-dir temperature-α fractions (α = 0.5 over `lang`), computed once
    * per corpus: q102 filters with them and the generated oracle embeds
    * them as literal hex thresholds — by construction the same numbers. */
  private val tempCtxs = scala.collection.concurrent
    .TrieMap.empty[String, Map[String, Double]]
  private def tempCtx(s: SparkSession, dir: String): Map[String, Double] =
    tempCtxs.getOrElseUpdate(dir,
      Sampling.temperatureFractions(t(s, dir, "documents"), "lang", 0.5))

  /** Temperature rebalancing at α = 0.5 over language: the smallest
    * language keeps fraction 1, every other language is downsampled by
    * sqrt of its relative share — the multilingual-training corpus
    * schedule, as one scan-side hash filter. */
  def q102TemperatureSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        tempCtx(s, dir))
      .select(col("doc_id"), col("lang"))

  /** Weight-proportional sampling: keep documents with probability
    * min(1, n_tokens / 60) — the token-count reweighting form of the
    * hash-bucket discipline. The keep decision is pure long arithmetic
    * (bucket · 60 < n_tokens · 65536), so the oracle replays it
    * bit-for-bit; like q75 it is scan-side, RNG-free, and stable under
    * re-partitioning. */
  def q101WeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
      t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", unitWeight = 60L)

  /** Per-document keyword extraction: top-5 terms by the rational-idf
    * TF-IDF score (tf·N·10^6 div df — exact integer arithmetic, so the
    * oracle replays ranking and export bit-for-bit; log-idf would hang
    * the compare on libm rounding). */
  def q103Keywords(s: SparkSession, dir: String): DataFrame =
    graft.operators.Keywords.topTerms(t(s, dir, "documents"),
      "doc_id", "text", k = 5)

  /** Span-level corpus dedup (C4-style): 3-token spans, first occurrence
    * wins corpus-wide, documents reassembled from surviving spans. The
    * 3-token span size is deliberate at this corpus's ~30-word
    * vocabulary — collisions are plentiful, so the dedup path is
    * genuinely exercised rather than a pass-through. */
  def q104SpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text",
      spanTokens = 3)

  /** The sampling family as ONE engine-portable ANSI statement (the
    * Athena discipline applied to the most analyst-reused operators):
    * deterministic 50% sample → train/val/test split assignment →
    * per-language stratified keep flag, all on the md5 hex-bucket rule.
    * The SAME string is the Spark query and the DuckDB oracle, so
    * divergence is impossible by construction (the q93 pattern);
    * SqlSamplingSpec additionally pins it bit-identical to the operator
    * composition. Thresholds are generated from Sampling.hexThreshold so
    * the SQL can never drift from the operators' rounding. */
  private lazy val samplingSql: String = {
    val t50 = graft.operators.Sampling.hexThreshold(0.5)
    val t80 = graft.operators.Sampling.hexThreshold(0.8)
    val t90 = graft.operators.Sampling.hexThreshold(0.9)
    val ten = graft.operators.Sampling.hexThreshold(0.25)
    val tAll = graft.operators.Sampling.hexThreshold(1.0)
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    substr(md5(CAST(doc_id AS STRING)), 1, 4) AS bucket
       |  FROM documents),
       |sampled AS (
       |  SELECT * FROM b WHERE bucket < '$t50'),
       |split_assigned AS (
       |  SELECT doc_id, lang, bucket,
       |    CASE WHEN bucket < '$t80' THEN 'train'
       |         WHEN bucket < '$t90' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM sampled)
       |SELECT doc_id, lang, split,
       |  CASE WHEN lang = 'en' THEN (bucket < '$ten')
       |       ELSE (bucket < '$tAll') END AS strat_keep
       |FROM split_assigned""".stripMargin
  }

  def q126SqlSampling(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(samplingSql)
  }

  /** Maximal-run exact-substring dedup: duplicated spans are dropped only
    * in runs of >= 2 consecutive duplicated spans — lone duplicated spans
    * (common phrases at this vocabulary) survive, so the output genuinely
    * differs from q104's drop-every-dup and the run logic is what the
    * oracle checks. */
  def q124RunDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.runDedup(t(s, dir, "documents"), "doc_id", "text",
      spanTokens = 3, minRunSpans = 2)

  /** Z-order (Morton) addresses over two key columns — the clustering
    * key [[graft.pipeline.Maintenance.compactZorder]] lays files out by.
    * Pure shift/and/or integer arithmetic (whole-stage codegen, exactly
    * replayable by the oracle's bit-operator chain). */
  def q139ZorderKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      graft.operators.ZOrder.zAddress(10,
          pmod(col("l_partkey"), lit(1024L)),
          pmod(col("l_suppkey"), lit(1024L)))
        .as("zaddr"))

  /** Graded contamination: per training doc its distinct-shingle total,
    * eval-shared count, and the exact-ppm ratio — the threshold-sweep
    * form of q82's boolean rule (same %50 train/eval split). */
  def q140ContaminationRatio(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Decontaminate.overlapRatio(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 8)
  }

  /** ORC source + sink (lakehouse interchange format beside parquet):
    * documents round-trips through an ORC table once per dir, and the
    * aggregate runs over the ORC READ — the oracle computes the same
    * aggregate from the original parquet, so any round-trip lossiness
    * (types, nulls, encoding) hash-mismatches. */
  def q141OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = Fixtures.once("orc", dir) { d =>
      t(s, dir, "documents").write.mode("overwrite").orc(d)
      d
    }
    s.read.orc(p)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Mergeable HLL distinct sketches: daily per-type sketches of
    * user_id rolled up across days — the incremental path for the one
    * aggregate IncrementalAgg can't merge. Rows-only (DataSketches HLL
    * is a primitive DuckDB can't replay); SketchesSpec gates merged-path
    * estimates within 5% of exact counts and merge determinism. */
  /** Mergeable HLL distinct counts through the daily-build → rollup
    * path, oracle-banded (q163 discipline — formerly rows-only): the
    * exported row carries the EXACT per-type distinct (bit-for-bit
    * oracle column) plus a flag pinning the sketch-union estimate
    * within 5% of it. The daily→type rollup is the incremental path
    * under test: a lost or double-unioned day moves the estimate out of
    * band and hash-mismatches the oracle's constant 1. */
  def q144HllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("day", to_date(col("ts")))
    val daily = graft.operators.Sketches.build(ev,
      Seq("event_type", "day"), "user_id")
    val est = graft.operators.Sketches.estimate(
      graft.operators.Sketches.rollup(daily, Seq("event_type")),
      Seq("event_type"))
    val exact = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"),
        when(abs(col("distinct_est") - col("exact_users")) <=
            greatest(col("exact_users") * 0.05, lit(2.0)), lit(1L))
          .otherwise(lit(0L)).as("users_est_ok"))
      .orderBy(col("event_type"))
  }

  /** Mergeable Count-Min frequency sketch, merged path: per-source CMS
    * of the token stream unioned via Cms.union (sketch blobs, never raw
    * rows), then every vocabulary term probed — the bounded-memory
    * heavy-hitters report. Construction-pinned oracle (q132 discipline):
    * at width ⌈e/ε⌉ = 2719 this corpus's ~31-term vocabulary is
    * collision-free in at least one of the 5 hash rows, so est = exact
    * and the exact-count SQL is a binding oracle; CmsSpec covers the
    * collision/overestimate case with a deliberately tiny sketch. */
  def q153CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents").select(col("source"),
      explode(split(col("text"), "\\s+")).as("term"))
      .filter(length(col("term")) >= 1)
    val perSource = graft.operators.Cms.build(toks, Seq("source"), "term")
    val merged = graft.operators.Cms.rollup(perSource, Nil)
      .collect().head.getAs[Array[Byte]](0)
    val vocab = toks.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    graft.operators.Cms.estimate(merged, vocab)
      .toDF("term", "occurrences")
      .orderBy(desc("occurrences"), col("term")).limit(20)
  }

  /** File-stats-index range read: candidate files from the materialized
    * min/max table, exact predicate re-applied — the oracle computes
    * from the raw table, so the index can only reduce IO, never change
    * results (and any stats/pruning bug hash-mismatches). */
  def q145StatsPruned(s: SparkSession, dir: String): DataFrame = {
    val table = s"$dir/lineitem.parquet"
    val stats = graft.operators.FileIndex.buildStats(s, table,
      Seq("l_extendedprice"))
    graft.operators.FileIndex.prunedRangeRead(s, table, stats,
        "l_extendedprice", lit(1000.0), lit(5000.0))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
  }

  /** Bloom-index equality read (Iceberg/Delta file-skipping for point
    * predicates): candidate files from per-file bloom sketches of
    * l_partkey (Spark's own BloomFilterAggregate machinery), exact
    * predicate re-applied — q145's advisory-index discipline, so the
    * oracle computes from the raw table and any bloom bug (lost file =
    * false negative) hash-mismatches. Range stats cannot serve point
    * probes on unclustered layout; the bloom column is what makes the
    * stats table answer them (FileIndexSpec proves the pruning). */
  def q168BloomPruned(s: SparkSession, dir: String): DataFrame = {
    val table = s"$dir/lineitem.parquet"
    val stats = graft.operators.FileIndex.buildStatsWithBloom(s, table,
      rangeCols = Nil, bloomCols = Seq("l_partkey"),
      expectedItemsPerFile = 300000L, bloomNumBits = 1L * 1024 * 1024)
    graft.operators.FileIndex
      .prunedEqualityRead(s, table, stats, "l_partkey", 1L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** AUTOMATIC file skipping under the oracle gate: a fragmented copy
    * of orders is stats-indexed (bloom on o_custkey) and REGISTERED
    * with [[org.apache.spark.sql.graft.StatsPruning]], then the query
    * is a PLAIN `spark.read.parquet(...).where(o_custkey = k)` — no
    * FileIndex API in sight; the Catalyst rule prunes the listing at
    * plan time (require()d to have fired: fewer files scanned than the
    * table holds). The oracle filters raw orders at the same key, so a
    * pruning bug that loses a file hash-mismatches, and the
    * conservative unknown-files-kept contract is what keeps the stats
    * advisory. k = min(o_custkey), deterministic at every SF in both
    * engines. */
  def q187AutoPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val (table, key) = Fixtures.once("autoprune", dir) { d =>
      val tbl = s"$d/orders"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      // cluster the fragments BY THE PROBE COLUMN (hash, not range: the
      // files then have wide, overlapping min/max ranges, so the BLOOM
      // is what prunes — the point of the demo) — keyless round-robin
      // spread each custkey's ~10 rows across files in a layout-
      // dependent way, and a multi-file source (the r18 bench split)
      // made the `scanned < 8` pruning assertion flaky
      o.repartition(8, col("o_custkey")).write.parquet(tbl)
      val statsDir = s"$d/stats"
      graft.operators.FileIndex.buildStatsWithBloom(s, tbl,
          rangeCols = Seq("o_custkey"), bloomCols = Seq("o_custkey"),
          expectedItemsPerFile = 300000L, bloomNumBits = 1L * 1024 * 1024)
        .write.parquet(statsDir)
      org.apache.spark.sql.graft.StatsPruning.register(s, tbl, statsDir)
      (tbl, o.agg(min(col("o_custkey"))).head().getLong(0))
    }
    val q = s.read.parquet(table).where(col("o_custkey") === lit(key))
      .orderBy(col("o_orderkey"))
    q.collect() // force optimization so the plan below is the real one
    val scanned = q.queryExecution.optimizedPlan.collectLeaves().map {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
      case _ => 0
    }.sum
    require(scanned < 8,
      s"auto-pruning did not fire: scanned $scanned of 8 files")
    q
  }

  /** AUTOMATIC file skipping on a HIVE-PARTITIONED layout (the r12
    * verdict's top gap: real lakehouse tables are date-partitioned, and
    * the rule used to bail on any partitioned relation): events is
    * written `day=…/` partitioned with 4 range-clustered files per day
    * (user_id sorted within each day), the user_id min/max index is
    * registered, and the query is a plain
    * `read.parquet(t).where(day = d AND user_id = u)` — partition
    * pruning (directory level, Spark's own) COMPOSES with file-level
    * envelope pruning (this engine's rule) inside the surviving
    * partition: both are require()d to have fired via the executed
    * scan's own metrics (numPartitions = 1, numFiles below the
    * partition's file count). Day and user are data-derived minima,
    * deterministic at every SF in both engines; the oracle filters RAW
    * events at the same keys, so over-pruning (a lost file OR a lost
    * partition) hash-mismatches. */
  def q188PartitionedAutoPrune(s: SparkSession, dir: String): DataFrame = {
    val (table, day, user) = Fixtures.once("partprune", dir) { d =>
      val tbl = s"$d/events"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          to_date(col("ts")).as("day"))
      val nDays = ev.select(col("day")).distinct().count().toInt
      // range-cluster on (day, user_id): each day lands in ~4
      // consecutive output tasks, so its partition dir holds ~4 files
      // with near-disjoint user_id envelopes — the layout
      // compactSorted produces, built inline here
      ev.repartitionByRange(nDays * 4, col("day"), col("user_id"))
        .sortWithinPartitions(col("day"), col("user_id"))
        .write.partitionBy("day").parquet(tbl)
      val statsDir = s"$d/stats"
      graft.operators.FileIndex.buildStats(s, tbl, Seq("user_id"))
        .write.parquet(statsDir)
      org.apache.spark.sql.graft.StatsPruning.register(s, tbl, statsDir)
      val minDay = ev.agg(min(col("day"))).head().getDate(0)
      val minUser = ev.filter(col("day") === lit(minDay))
        .agg(min(col("user_id"))).head().getLong(0)
      (tbl, minDay, minUser)
    }
    // metric probe WITHOUT the order-by (no exchange -> no AQE wrapper;
    // and Dataset actions reset SQL metrics, so the probe reads them on
    // its own first execution)
    val probe = s.read.parquet(table)
      .where(col("day") === lit(day) && col("user_id") === lit(user))
    probe.collect()
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    require(scans.nonEmpty, "expected a FileSourceScanExec leaf")
    val scannedFiles = scans.map(_.metrics("numFiles").value).sum
    val scannedParts = scans.map(_.metrics("numPartitions").value).sum
    val dayDir = new java.io.File(s"$table/day=$day")
    val dayFiles = Option(dayDir.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    require(dayFiles >= 2,
      s"construction broke: day=$day holds $dayFiles files")
    require(scannedParts == 1,
      s"partition pruning did not fire: scanned $scannedParts partitions")
    require(scannedFiles < dayFiles,
      s"file pruning did not compose: scanned $scannedFiles of the " +
        s"surviving partition's $dayFiles files")
    s.read.parquet(table)
      .where(col("day") === lit(day) && col("user_id") === lit(user))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Z-ORDER × automatic pruning composition (+ the maintenance↔stats
    * refresh loop, exercised on the oracle-gated surface): a fragmented
    * lineitem copy is min/max-indexed and REGISTERED FIRST, then
    * `Maintenance.compactZorder` rewrites it clustered on
    * (l_partkey, l_suppkey) — the rewrite itself must refresh the
    * registered index (require()d via the report detail), and plain
    * scans filtered on EITHER clustered column must then prune through
    * the automatic rule (require()d per dimension): the multi-column
    * payoff a single-column sort cannot give, composed end to end with
    * no manual refresh step. Keys are data-derived minima; the oracle
    * replays both slices from raw lineitem, so over-pruning on either
    * dimension hash-mismatches. */
  def q189ZorderAutoPrune(s: SparkSession, dir: String): DataFrame = {
    val (table, pk, sk) = Fixtures.once("zorderprune", dir) { d =>
      val tbl = s"$d/li"
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      li.repartition(16).write.parquet(tbl)
      val statsDir = s"$d/stats"
      graft.operators.FileIndex
        .buildStats(s, tbl, Seq("l_partkey", "l_suppkey"))
        .write.parquet(statsDir)
      org.apache.spark.sql.graft.StatsPruning.register(s, tbl, statsDir)
      val bytes = Option(new java.io.File(tbl).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val rep = graft.pipeline.Maintenance.compactZorder(s, tbl,
        Seq("l_partkey", "l_suppkey"), bits = 12,
        targetFileBytes = math.max(1L, bytes / 16))
      require(rep.ok, s"compactZorder failed: ${rep.detail}")
      require(rep.detail.contains("stats index refreshed"),
        s"maintenance did not refresh the registered index: ${rep.detail}")
      val r = li.agg(min(col("l_partkey")), min(col("l_suppkey"))).head()
      (tbl, r.getLong(0), r.getLong(1))
    }
    def requirePruned(c: String, v: Long): Unit = {
      val q = s.read.parquet(table).where(col(c) === lit(v))
      q.collect()
      val total = s.read.parquet(table).inputFiles.length
      val kept = q.queryExecution.optimizedPlan.collectLeaves().map {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation
            .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
        case _ => 0
      }.sum
      require(kept < total,
        s"z-order pruning on $c did not fire: scanned $kept of $total")
    }
    requirePruned("l_partkey", pk)
    requirePruned("l_suppkey", sk)
    def slice(dim: String, c: String, v: Long) =
      s.read.parquet(table).where(col(c) === lit(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .select(lit(dim).as("dim"), col("n_rows"), col("sum_qty"))
    slice("part", "l_partkey", pk)
      .unionByName(slice("supp", "l_suppkey", sk))
      .orderBy(col("dim"))
  }

  /** AUTOMATIC file skipping on CATALOG-served versioned tables (r14 —
    * the composition the r13 verdict flagged: the v1 rule matches
    * `LogicalRelation` only, so `SELECT … FROM <cat>.<ns>.<t>` never
    * pruned): a versioned table built as TWO range-clustered snapshots
    * (write + append, 6 files each), min/max-indexed over its table
    * ROOT and registered — one registration covers every snapshot via
    * the parent-dir hop. A catalog point query on the clustered column
    * must then prune at the DSv2 scan
    * ([[org.apache.spark.sql.graft.GraftStatsScanBuilder]]): the
    * require counts the files the executed BatchScanExec actually
    * planned and demands fewer than the table holds. The oracle
    * replays the slice from raw lineitem — over-pruning loses rows and
    * hash-mismatches. */
  def q199CatalogAutoPrune(s: SparkSession, dir: String): DataFrame = {
    val (wh, key) = Fixtures.once("v2prune", dir) { d =>
      val tbl = s"$d/wh/li"
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_quantity"))
      graft.pipeline.VersionedTable.create(tbl, li.schema)
      def clustered(df: org.apache.spark.sql.DataFrame) =
        df.repartitionByRange(6, col("l_partkey"))
          .sortWithinPartitions(col("l_partkey"))
      graft.pipeline.VersionedTable.write(
        clustered(li.filter(col("l_partkey") % 2 === 0)), tbl)
      graft.pipeline.VersionedTable.append(
        clustered(li.filter(col("l_partkey") % 2 === 1)), tbl)
      val statsDir = s"$d/stats"
      graft.operators.FileIndex.statsForFiles(s,
          graft.pipeline.VersionedTable.dataDirs(tbl), Seq("l_partkey"))
        .write.parquet(statsDir)
      org.apache.spark.sql.graft.StatsPruning.register(s, tbl, statsDir)
      (s"$d/wh", li.agg(min(col("l_partkey"))).head().getLong(0))
    }
    val cat = s"gv2p${math.abs(wh.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val probe = s.sql(s"SELECT l_orderkey, l_quantity FROM $cat.li " +
      s"WHERE l_partkey = $key")
    probe.collect()
    val scanned = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten.map {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.length
          case _ => 0
        }.sum
    }.sum
    val total = graft.pipeline.VersionedTable.dataDirs(s"$wh/li")
      .map(p => Option(new java.io.File(p.stripPrefix("file:")).listFiles())
        .getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))).sum
    require(total >= 4,
      s"construction broke: expected >=4 clustered files, got $total")
    require(scanned > 0 && scanned < total,
      s"catalog-served stats pruning did not fire: scanned $scanned " +
        s"of $total files")
    s.sql(s"SELECT l_orderkey, l_quantity FROM $cat.li " +
        s"WHERE l_partkey = $key")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).cast("long").as("sum_okey"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
  }

  /** CSV raw-zone round-trip (the landing format object-store ingest
    * actually receives): documents written as RFC4180-quoted CSV once
    * per dir, read back with an explicit schema (+ multiLine, so
    * embedded newlines would survive), aggregated — same oracle as q141:
    * the original parquet. Any quoting/typing lossiness hash-mismatches. */
  def q143CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = Fixtures.once("csv", dir) { d =>
      t(s, dir, "documents").write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", "\"")
        .csv(d)
      d
    }
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT")
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(p)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Guard for the q142/q158 `assumeDistinct` structural-uniqueness
    * argument: the two union branches are duplicate-free only while
    * every supplier id stays below every customer id offset by +100000,
    * i.e. max(l_suppkey) < min(o_custkey) + 100000. Suppkeys = 10k×SF in
    * TPC-H, so the bound holds through SF 10 and breaks silently past
    * it; a custkey below 1 (the fixtures hold custkey 0) lowers the
    * bound — duplicate directed edges would then double-count in
    * PageRank. One narrow column scan per table per (process, dir),
    * cached like the other per-dir fixtures; trips loudly instead of
    * returning wrong ranks. */
  private val nodeSpaceChecked =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  private[queries] def requireDisjointNodeSpaces(s: SparkSession,
      dir: String): Unit = {
    val (maxSupp, minCust) = nodeSpaceChecked.getOrElseUpdate(dir, (
      t(s, dir, "lineitem").agg(max(col("l_suppkey"))).head().getLong(0),
      t(s, dir, "orders").agg(min(col("o_custkey"))).head().getLong(0)))
    require(maxSupp < minCust + 100000L,
      s"q142/q158 node spaces collide in $dir: max l_suppkey = $maxSupp " +
        s"is not below min o_custkey + 100000 = ${minCust + 100000L}, so " +
        "the +100000 customer offset no longer separates supplier and " +
        "customer ids and the union is not structurally duplicate-free — " +
        "assumeDistinct would silently double-count edges")
  }

  /** Fixed-point PageRank over the supplier↔customer interaction graph
    * (symmetric edges from lineitem⋈orders; customers offset by 100000
    * into a shared node space). 3 exact integer-ppm iterations — the
    * oracle unrolls the same three joins and matches bit-for-bit. */
  def q142PageRank(s: SparkSession, dir: String): DataFrame = {
    requireDisjointNodeSpaces(s, dir)
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_suppkey").as("a"),
        (col("o_custkey") + lit(100000L)).as("b"))
      .distinct()
    // symmetrize with ONE explode, not a 2-arm union: union arms do not
    // share plan subtrees, so the union form derived the lineitem⋈orders
    // join + distinct TWICE before the operator's edge checkpoint could
    // materialize it (guide §2.4 — same row multiset, half the work)
    val edges = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // assumeDistinct: `pairs` is distinct and the two explode branches
    // live in disjoint node spaces (a < 100000 ≤ b, guarded above), so
    // the symmetrized set is structurally duplicate-free — the
    // operator's defensive distinct would re-shuffle all |E| rows to
    // remove nothing (guide §2.4).
    // fixed 3 iterations → lazy composite (no per-iteration checkpoint):
    // identical values, 27 → 15 jobs, measured 2.5 → 1.7 s warm solo on
    // the post-split bench; the operator default stays checkpointed for
    // unbounded iteration counts
    graft.operators.PageRank.run(edges, "src", "dst", iters = 3,
      materializePerIteration = false, assumeDistinct = true)
  }

  /** HashMin label propagation on the q142 graph: 4 exact iterations of
    * min-label flooding — the fully-distributed connected-components
    * path (vs [[graft.operators.Components]]'s driver union-find). The
    * oracle unrolls the same 4 joins; labels are node ids, so every
    * iteration is integer-exact on any engine. */
  def q158LabelProp(s: SparkSession, dir: String): DataFrame = {
    requireDisjointNodeSpaces(s, dir)
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_suppkey").as("a"),
        (col("o_custkey") + lit(100000L)).as("b"))
      .distinct()
    // one-explode symmetrization + structural uniqueness: same
    // derivation-sharing and disjoint-node-space arguments as q142
    val edges = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // fixed 4 iterations → lazy composite (no per-iteration checkpoint),
    // same rationale and measurement as q142
    graft.operators.LabelProp.run(edges, "src", "dst", iters = 4,
      assumeDistinct = true, materializePerIteration = false)
  }

  /** Exact per-node triangle counts on the part co-occurrence graph
    * (parts sharing an order are adjacent) — degree-oriented wedge
    * enumeration keeps wedge volume O(|E|^1.5) under skew; the oracle
    * replays with the orientation-free a<b<c 3-way self-join, which is
    * only equivalent because each triangle materializes exactly once in
    * both forms.
    *
    * Edge generation is ONE groupBy + scan-side pair explode, not a
    * lineitem self-join: collect the (deduped, sorted) part set per
    * order, then posexplode the set and explode each element's tail
    * slice — per-order group sizes are bounded (items per order), so
    * the pair streams are generated inside codegen'd generators (no
    * higher-order lambdas, which are CodegenFallback) and the join
    * shuffle + 3.6M-row join output of the self-join form disappear.
    * No distinct here either: Triangles itself canonicalizes+dedups
    * edges, so an outer distinct would be a second full shuffle of the
    * same pair set. */
  def q159Triangles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("pks"))
      .select(posexplode(col("pks")).as(Seq("i", "src")), col("pks"))
      .select(col("src"),
        explode(expr("slice(pks, i + 2, size(pks) - i - 1)")).as("dst"))
    graft.operators.Triangles.perNode(edges, "src", "dst")
  }

  /** Deterministic categorical encoding, fit + transform in one run:
    * the (p_brand → index) dictionary is fit by (frequency DESC, value
    * ASC) and every part row is scored against it — the train/serve
    * StringIndexer shape with an engine-replayable tie-break. */
  def q160CategoryEncode(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val dict = graft.operators.CategoryEncode.fit(p, "p_brand")
    graft.operators.CategoryEncode
      .transform(p, "p_brand", dict, "brand_idx")
      .select(col("p_partkey"), col("p_brand"), col("brand_idx"))
  }

  /** Compression-ratio quality signal (Gopher §A1.2): deflate length
    * and ratio in ppm per document, plus the keep-band flag (natural
    * text sits between degenerate repetition and noise). Rows-only:
    * deflate output is deterministic per JVM but not engine-portable —
    * pinned by `DeflateSpec` (independent one-shot replay, class
    * ordering, codegen/interpreted agreement) instead of DuckDB. */
  def q161CompressionRatio(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("utf8_len"),
        TextFunctions.deflateLength(col("text")).as("deflate_len"),
        TextFunctions.compressionRatio(col("text")).as("ratio_ppm"))
      .withColumn("keep",
        col("ratio_ppm").between(120000L, 900000L))
      .orderBy(col("doc_id"))

  /** Mergeable approximate quantiles read off the equi-width histogram
    * (q106's grid): upper edge of the first bin whose cumulative count
    * reaches the rank — pure integer selection over exactly-rounded
    * IEEE edges, so DuckDB replays it bit-for-bit. */
  def q162HistQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogramQuantiles(
      t(s, dir, "lineitem"), "l_extendedprice", buckets = 8,
      percents = Seq(25, 50, 75, 95, 100))

  /** Mergeable KLL quantile sketches, merged path end-to-end: per-
    * (lang, source) sketches of n_chars built in one scan, unioned to
    * per-lang via [[graft.operators.Kll.rollup]] (blob merge — the
    * incremental path), then integer-percent quantiles + exact item
    * counts probed off the merged sketches. Construction-pinned oracle
    * (q153/q162 discipline): k=8192 far exceeds any per-lang doc count
    * at verification scales (sf0.1: ~1250/lang), so every sketch stays
    * in its exact-retention regime and the INCLUSIVE rank rule
    * `100·cum >= p·N` replays bit-for-bit in SQL; KllSpec covers the
    * compacted approximate regime and merge associativity. Unlike q162's
    * histogram grid, no value range is assumed. */
  def q164KllQuantiles(s: SparkSession, dir: String): DataFrame = {
    val perSource = graft.operators.Kll.build(
      t(s, dir, "documents").filter(col("n_chars").isNotNull),
      Seq("lang", "source"), "n_chars", k = 8192)
    val perLang = graft.operators.Kll.rollup(perSource, Seq("lang"))
      .withColumn("n_items", kll_sketch_get_n_double(col("kll")))
    graft.operators.Kll.quantiles(perLang, Seq("lang", "n_items"),
        percents = Seq(25, 50, 75, 95, 100))
      .select(col("lang"), col("pct"), col("q_value"), col("n_items"))
      .orderBy(col("lang"), col("pct"))
  }

  /** Stream-maintained quantile profile, SAME oracle as q164: documents
    * drained in two batches (checkpoint = bookmark, exactly-once via
    * per-batch dynamic partition overwrite), per-batch KLL sketches
    * landed under batch_id=N/, profile = blob-union rollup at read time.
    * Sketch union is associative and every sketch stays in the exact-
    * retention regime (k=8192), so the streamed profile must equal the
    * one-shot full recompute bit-for-bit — any duplicate or dropped
    * batch breaks n_items and the hash. Ingest runs once per input
    * ([[Fixtures.once]]); reruns only re-read the state. */
  def q165StreamKllProfile(s: SparkSession, dir: String): DataFrame = {
    val state = Fixtures.once("kll-stream", dir) { root =>
      val half = t(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val schema = org.apache.spark.sql.types.StructType(
        half.schema.filterNot(_.name == "doc_id"))
      // two arrivals: even/odd doc batches, drained separately
      half.filter(col("doc_id") % 2 === 0).drop("doc_id")
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Kll.sketchIngestOnce(s, s"$root/src", schema,
        s"$root/state", s"$root/ckpt", Seq("lang"), "n_chars", k = 8192)
      half.filter(col("doc_id") % 2 =!= 0).drop("doc_id")
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Kll.sketchIngestOnce(s, s"$root/src", schema,
        s"$root/state", s"$root/ckpt", Seq("lang"), "n_chars", k = 8192)
      s"$root/state"
    }
    graft.operators.Kll.profile(s, state, Seq("lang"),
        percents = Seq(25, 50, 75, 95, 100))
      .select(col("lang"), col("pct"), col("q_value"), col("n_items"))
      .orderBy(col("lang"), col("pct"))
  }

  /** q164's KLL profile from PURE SQL TEXT (the reference's Athena
    * discipline, q74/q69 pattern): build/union/probe driven entirely
    * through `spark.sql` over the registered views + Spark's built-in
    * `kll_sketch_agg_double` / `kll_merge_agg_double` /
    * `kll_sketch_get_quantile_double` / `kll_sketch_get_n_double` —
    * proving the sketch family is first-class on the SQL surface, not
    * DataFrame-only. The probe takes its ranks as a literal array
    * (0.95D is the same double as 95 / 100). Same construction-pinned
    * oracle as q164 (exact-retention regime; the n_chars filter leaves
    * no empty group, so the probe needs no n > 0 guard). */
  def q166SqlKll(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql("""
      WITH sk AS (
        SELECT lang, source,
               kll_sketch_agg_double(CAST(n_chars AS DOUBLE), 8192) AS kll
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY lang, source),
      m AS (
        SELECT lang, kll_merge_agg_double(kll) AS kll
        FROM sk GROUP BY lang),
      q AS (
        SELECT lang, kll_sketch_get_n_double(kll) AS n_items,
               kll_sketch_get_quantile_double(kll,
                 array(0.25D, 0.5D, 0.75D, 0.95D, 1.0D)) AS qs
        FROM m),
      p AS (SELECT posexplode(array(25, 50, 75, 95, 100)) AS (i, pct))
      SELECT q.lang, CAST(p.pct AS BIGINT) AS pct, q.qs[p.i] AS q_value,
             q.n_items
      FROM q CROSS JOIN p
      ORDER BY lang, pct""")
  }

  /** The sketch-column discipline on the PURE SQL surface: Spark 4 ships
    * `hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate` as SQL
    * functions, so an analyst can build daily sketch columns and roll
    * them up without touching the Scala API — exactly how an
    * Athena/Iceberg deployment stores sketch columns in gold tables
    * (reference analogue: the SQL-first interactive surface,
    * reference: README.md:245-276). Same est-band oracle as q144/q172:
    * exact distinct (bit-for-bit) + a 5%-band flag on the SQL-built
    * estimate — a lost/double-unioned day flips it. */
  def q174SqlHll(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               hll_sketch_agg(user_id) AS sketch
        FROM events GROUP BY 1, 2),
      rolled AS (
        SELECT event_type,
               hll_sketch_estimate(hll_union_agg(sketch)) AS est
        FROM daily GROUP BY 1),
      exact AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY 1)
      SELECT e.event_type, e.exact_users,
             CASE WHEN abs(r.est - e.exact_users)
                    <= greatest(e.exact_users * 0.05, 2.0)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
               AS users_est_ok
      FROM exact e JOIN rolled r USING (event_type)
      ORDER BY event_type""")
  }

  /** Audience overlap via theta-sketch set algebra: per-event-type
    * distinct-user sketches (built per-day first, then blob-union
    * rolled up — exercising the incremental path), every type pair's
    * |A|, |B|, |A ∩ B|, |A \ B| answered from the sketches alone.
    * Exact answers require set operations HLL cannot do; the exact
    * alternative is a distinct self-join over raw ids per question.
    * Construction-pinned oracle (q153/q164 discipline): lgK=14 nominal
    * 16384 far exceeds the 1500-user universe at sf0.1, so every
    * sketch stays in exact mode (θ=1) and intersections/differences of
    * exact sketches are exact; ThetaSpec covers estimation mode. */
  def q167ThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))
    val daily = graft.operators.Theta.build(ev,
      Seq("event_type", "day"), "user_id", lgK = 14)
    val perType = graft.operators.Theta.rollup(daily, Seq("event_type"))
    graft.operators.Theta.pairwiseOverlap(perType, "event_type")
      .withColumnRenamed("seg_a", "type_a")
      .withColumnRenamed("seg_b", "type_b")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Streamed crawl dedup end-to-end: the [[plantedText]] corpus drained
    * in two arrivals (evens, then odds — doc 2k+1 is the twin of doc
    * 2k), each microbatch deduped within itself AND against everything
    * already indexed, novel docs' index rows and ids landed exactly-once
    * under batch_id=N/ (dynamic partition overwrite; a retried batch
    * rewrites its own partitions and its probe excludes its own id).
    * Construction-pinned oracle: batch 1's evens are pairwise-disjoint
    * (all accepted); batch 2's odd doc 2k+1 is identical to indexed doc
    * 2k (jaccard exactly 1.0 — dropped), except odds with no even
    * partner in the table (accepted). The accepted set is therefore a
    * plain SQL expression over the id set — a duplicate slipping
    * through, a novel doc lost, or a double-landed batch all
    * hash-mismatch. */
  def q171StreamCrawlDedup(s: SparkSession, dir: String): DataFrame = {
    val root = Fixtures.once("crawl-dedup", dir) { r =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          plantedText(col("doc_id") - col("doc_id") % 2).as("text"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("append").parquet(s"$r/src")
      graft.operators.NearDupIndex.streamIngest(s, s"$r/src", docs.schema,
        s"$r/index", s"$r/ckpt", "doc_id", "text")
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.mode("append").parquet(s"$r/src")
      graft.operators.NearDupIndex.streamIngest(s, s"$r/src", docs.schema,
        s"$r/index", s"$r/ckpt", "doc_id", "text")
      r
    }
    graft.operators.NearDupIndex.accepted(s, s"$root/index", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Stream-maintained audience sketches, SAME oracle as q167: events
    * drained in two batches (even/odd user ids), per-batch theta
    * sketches landed exactly-once under batch_id=N/ via the shared
    * [[graft.streaming.BatchPartitionIngest]] primitive, overlap served
    * by blob-union rollup + set algebra at read time — q165's streamed-
    * ingest discipline applied to the theta family (r7 verdict item 5).
    * Theta union is associative and every sketch stays in exact mode
    * (lgK=14 ≫ the user universe), so streamed == one-shot == the
    * DuckDB distinct-join replay bit-for-bit; a duplicated or dropped
    * drain breaks users_a/users_b and the hash. */
  def q170StreamThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val state = Fixtures.once("theta-stream", dir) { root =>
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      ev.filter(col("user_id") % 2 === 0)
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Theta.sketchIngestOnce(s, s"$root/src", ev.schema,
        s"$root/state", s"$root/ckpt", Seq("event_type"), "user_id",
        lgK = 14)
      ev.filter(col("user_id") % 2 =!= 0)
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Theta.sketchIngestOnce(s, s"$root/src", ev.schema,
        s"$root/state", s"$root/ckpt", Seq("event_type"), "user_id",
        lgK = 14)
      s"$root/state"
    }
    val perType = graft.operators.Theta.rollup(
      s.read.parquet(state).drop("batch_id"), Seq("event_type"))
    graft.operators.Theta.pairwiseOverlap(perType, "event_type")
      .withColumnRenamed("seg_a", "type_a")
      .withColumnRenamed("seg_b", "type_b")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Stream-maintained distinct-user audience (HLL), completing the
    * sketch-family streaming symmetry (r8 verdict item 3): events
    * drained in two batches (even/odd user ids), per-batch per-type HLL
    * sketches landed exactly-once under batch_id=N/ via the shared
    * [[graft.streaming.BatchPartitionIngest]] primitive, served by blob
    * union at read time. HLL has no exact mode, so the oracle is q163's
    * est-band discipline: `exact_users` (bit-exact, pins the universe)
    * plus `users_est_ok` = 1 iff the sketch estimate lands within 5% of
    * exact — a LOST drain halves a type's audience and flips the flag
    * (a double-landed drain is invisible to HLL by union idempotence;
    * the count-sensitive streamed detectors are q165/q170/q173). */
  def q172StreamHllUsers(s: SparkSession, dir: String): DataFrame = {
    val state = Fixtures.once("hll-stream", dir) { root =>
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      ev.filter(col("user_id") % 2 === 0)
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Sketches.sketchIngestOnce(s, s"$root/src", ev.schema,
        s"$root/state", s"$root/ckpt", Seq("event_type"), "user_id")
      ev.filter(col("user_id") % 2 =!= 0)
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Sketches.sketchIngestOnce(s, s"$root/src", ev.schema,
        s"$root/state", s"$root/ckpt", Seq("event_type"), "user_id")
      s"$root/state"
    }
    val est = graft.operators.Sketches.profile(s, state, Seq("event_type"))
    val exact = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"),
        // same band as q144/q174: the absolute floor of 2 keeps the band
        // nonzero for tiny-cardinality groups at small SF
        when(abs(col("distinct_est") - col("exact_users")) <=
            greatest(col("exact_users") * 0.05, lit(2.0)), lit(1L))
          .otherwise(lit(0L)).as("users_est_ok"))
      .orderBy(col("event_type"))
  }

  /** Stream-maintained term-frequency sketches (CMS), q153's
    * heavy-hitters question answered from streamed state: document
    * tokens drained in two batches (even/odd doc ids), per-batch
    * per-source CMS blobs landed exactly-once under batch_id=N/, served
    * by cell-wise blob sum at read time. CMS merge is commutative
    * cell-wise addition with a seed-pinned hash family, so the folded
    * streamed state is value-identical to q153's one-shot build — and
    * unlike HLL, counts are DOUBLED by an at-least-once landing, so
    * this entry is the streamed-CMS exactly-once detector. Oracle:
    * exact counts, binding because the sketch is collision-free for
    * this vocabulary by construction (q153's argument). */
  def q173StreamCmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val state = Fixtures.once("cms-stream", dir) { root =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), "\\s+")).as("term"))
        .filter(length(col("term")) >= 1)
      toks.filter(col("doc_id") % 2 === 0).drop("doc_id")
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Cms.sketchIngestOnce(s, s"$root/src",
        toks.drop("doc_id").schema, s"$root/state", s"$root/ckpt",
        Seq("source"), "term")
      toks.filter(col("doc_id") % 2 =!= 0).drop("doc_id")
        .write.mode("append").parquet(s"$root/src")
      graft.operators.Cms.sketchIngestOnce(s, s"$root/src",
        toks.drop("doc_id").schema, s"$root/state", s"$root/ckpt",
        Seq("source"), "term")
      s"$root/state"
    }
    val merged = graft.operators.Cms.serveState(s, state, Nil)
      .collect().head.getAs[Array[Byte]](0)
    val vocab = t(s, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("term"))
      .filter(length(col("term")) >= 1)
      .distinct().collect().map(_.getString(0)).toSeq
    graft.operators.Cms.estimate(merged, vocab)
      .toDF("term", "occurrences")
      .orderBy(desc("occurrences"), col("term")).limit(20)
  }

  /** Incremental gold refresh replayed against a full recompute (r6
    * verdict item 7): events split at the corpus's median day into a
    * standing gold aggregate and a "new day's" increment, each
    * aggregated independently, then combined with
    * [[graft.pipeline.IncrementalAgg.mergeWithSketches]] — sums/counts
    * merged exactly, distinct users carried as a mergeable HLL sketch.
    * The DuckDB oracle is the full-history recompute, which the merged
    * exact measures must hash-match bit-for-bit; `users_est_ok` pins the
    * sketch-union path (merged estimate within 5% of the true per-day
    * distinct, so a lost/double-unioned sketch flips it to 0 and
    * hash-mismatches the oracle's constant 1). Sums ride on
    * decimal(18,6) so merge order cannot perturb the double.
    * Scale shape: the merge shuffles |days| rows, never facts — the
    * O(day) maintenance the reference's full recompute lacks. */
  def q163IncrementalRefresh(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(to_date(col("ts")).as("event_date"),
        col("user_id"), col("value"))
    // Deterministic history/increment split: last 2 distinct days are
    // "new". approxQuantile on date-as-epoch-day keeps this one tiny
    // driver value, not a sort.
    val cut = ev.select(max(col("event_date"))).head().getDate(0)
    val cutoff = java.time.LocalDate.parse(cut.toString).minusDays(2)
    def aggPart(df: DataFrame): DataFrame = df
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,6)")).as("value_sum"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        hll_sketch_agg(col("user_id")).as("users_hll"))
    val gold = aggPart(ev.filter(col("event_date") < lit(cutoff.toString)))
    val inc = aggPart(ev.filter(col("event_date") >= lit(cutoff.toString)))
    val merged = graft.pipeline.IncrementalAgg.mergeWithSketches(
      gold, inc, keys = Seq("event_date"),
      sums = Seq("event_count", "value_sum"),
      mins = Seq("value_min"), maxs = Seq("value_max"),
      sketches = Seq("users_hll"))
    val exact = ev.groupBy(col("event_date"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_date")
      .select(col("event_date"),
        col("event_count"),
        col("value_sum").cast("double").as("value_sum"),
        col("value_min"), col("value_max"),
        when(abs(hll_sketch_estimate(col("users_hll")).cast("double") -
              col("exact_users")) <= col("exact_users") * 0.05, 1L)
          .otherwise(0L).as("users_est_ok"))
      .orderBy(col("event_date"))
  }

  /** Corpus-boilerplate strip: spans present in >= 3 distinct documents
    * are removed everywhere (first copy included) — the MassiveText
    * "repeated lines across documents" rule on q104's span grid. At this
    * vocabulary ~230 spans cross the threshold, so the removal path is
    * genuinely exercised while 498/500 documents survive. */
  def q133BoilerplateStrip(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateStrip(t(s, dir, "documents"), "doc_id", "text",
      spanTokens = 3, minDocFreq = 3)

  /** LM quality score: per-doc mean bigram log-probability under the
    * corpus's own bigram model — the perplexity-filter shape. Counts are
    * exact; ln's last-bit variance is absorbed by the 6dp export. */
  def q109LmScore(s: SparkSession, dir: String): DataFrame =
    graft.operators.LmScore.bigramLogProb(t(s, dir, "documents"),
      "doc_id", "text")

  /** Vocabulary truncation: top-16 token vocab (count desc, token asc),
    * every OOV token rewritten to the sentinel — the closed-vocab prep
    * stage. 16 is deliberate at this corpus's ~30-word vocabulary, so
    * the OOV path genuinely rewrites. */
  def q112Vocab(s: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab.truncateToTopK(t(s, dir, "documents"),
      "doc_id", "text", k = 16)

  /** Quality-aware cluster dedup under an oracle: the corpus doubled
    * with shifted ids and a different deterministic quality score, exact
    * duplicate pairs met on the content digest, then
    * [[graft.operators.Components.keepClusterBest]] keeps the
    * highest-quality copy. Because clusters here are exact-text groups,
    * plain SQL reproduces the whole components+keeper path (partition by
    * text, rank by quality) — the only oracle-able window into the
    * cluster-dedup machinery, whose normal diet is xxhash64 pairs. */
  def q114BestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = docs.select(col("doc_id"), col("text"),
      (col("doc_id") % 7).cast("double").as("q"))
    val b = docs.select((col("doc_id") + 10000).as("doc_id"), col("text"),
      ((col("doc_id") + 3) % 7).cast("double").as("q"))
    val corpus = a.unionAll(b)
    val sides = corpus.select(col("doc_id"), sha2(col("text"), 256).as("__d"))
    val pairs = sides.select(col("doc_id").as("id_a"), col("__d"))
      .join(sides.select(col("doc_id").as("id_b"), col("__d")), Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    graft.operators.Components.keepClusterBest(corpus, "doc_id", "q", pairs)
      .select(col("doc_id"), col("q"))
  }

  /** Collocations: top-20 bigrams by PMI with count >= 5. Ranking is on
    * the exact-arithmetic ratio (fixed-order IEEE over exact counts);
    * ln only dresses the exported score. */
  def q115Collocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.LmScore.collocations(t(s, dir, "documents"),
      "doc_id", "text", minCount = 5, k = 20)

  /** Packed training sequences: the corpus-prep OUTPUT stage — 512-token
    * bins per shard emitted as actual concatenated sequences with an
    * <eod> separator, plus tallies. Deterministic at any parallelism
    * (bin assignment and member order share one id ordering). */
  def q118PackedSequences(s: SparkSession, dir: String): DataFrame =
    Packing.packSequences(
      t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 8).cast("int").as("shard"), col("text"),
        size(split(col("text"), "\\s+")).as("n_tokens")),
      "doc_id", "text", "n_tokens", Seq("shard"), targetTokens = 512)

  /** Per-epoch deterministic shuffle keys for two epochs — RNG-free
    * reproducible training order, portable to any engine with md5. */
  def q119EpochOrder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      Sampling.epochOrderKey(col("doc_id"), 1).as("ok1"),
      Sampling.epochOrderKey(col("doc_id"), 2).as("ok2"))

  private val mixTargets =
    Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.2, "zh" -> 0.1)
  private val mixCtxs = scala.collection.concurrent
    .TrieMap.empty[String, Map[String, Double]]

  /** Mixture resampling to explicit proportions: 40/30/20/10 over
    * language at a 600-row budget — repetition for the under-represented
    * languages and thinning for English, in one scan-side pass. The
    * factors are cached per dir; the oracle embeds them as literals
    * through the same floor/hexThreshold arithmetic. */
  def q121MixtureResample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    mixCtxs.getOrElseUpdate(dir,
      Sampling.mixtureFactors(docs, "lang", mixTargets, 600L))
    Sampling.resampleToMixture(docs, "lang", "doc_id", mixTargets, 600L)
  }

  /** Deterministic 2.3x upsample of the corpus: every doc twice, the
    * hash-chosen 30% a third time, copies indexed — the
    * low-resource-domain repetition step. */
  def q120Upsample(s: SparkSession, dir: String): DataFrame =
    Sampling.upsample(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", factor = 2.3)

  /** 12 pairwise-unique tokens derived from `base` ("t<base>_0" …
    * "t<base>_11"): docs sharing a base have IDENTICAL text (shingle
    * jaccard exactly 1.0 — identical minhash signatures, so every band
    * collides and recall is guaranteed, not probabilistic); docs with
    * different bases share NO token, so no shingle either (jaccard 0 <
    * any threshold — a spurious band collision cannot survive the exact
    * verify). This makes an xxhash64-based near-dup operator's OUTPUT
    * data-independent given the id set — the q73 construction-pinned-
    * oracle trick generalized from "all duplicates" to "planted pairs". */
  private def plantedText(base: Column): Column =
    concat_ws(" ", (0 until 12).map(j =>
      concat(lit("t"), base.cast("string"), lit(s"_$j"))): _*)

  /** MinHash near-dup pairs from PURE SQL TEXT (the reference's Athena
    * discipline applied to the extension surface, as q69 did for as-of):
    * same parameters as q27, driven entirely through `spark.sql` over a
    * registered view + `graft_shingles`. Runs over a PLANTED-PAIR corpus
    * ([[plantedText]], base = doc_id floored to even: docs 2k and 2k+1
    * are twins, everything else pairwise-disjoint), so the full SQL
    * pipeline — shingling, seeded minima, banding, bucket guard,
    * first-agreeing-band dedup, exact-Jaccard verify — must emit
    * EXACTLY {(2k, 2k+1, 1.0)}, which a plain DuckDB join reproduces
    * (r7 verdict item 4: flips this entry from rows-only to
    * hash-matched). SqlNearDupSpec additionally pins SQL == DataFrame
    * operator on free-text corpora. */
  def q74SqlNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .filter(col("doc_id") < PlantedCap)
      .select(col("doc_id"),
        plantedText(col("doc_id") - col("doc_id") % 2).as("text"))
      .createOrReplaceTempView("documents_planted")
    s.sql(NearDup.minhashPairsSql(shingleSize = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.5, table = "documents_planted"))
  }

  /** Adversarial duplicate-heavy corpus — the skew stress for the
    * oversized-bucket guard. Every document is given the min-id
    * document's text, so in EVERY band the whole corpus lands in one hot
    * LSH cell; unguarded, the band self-join would emit n²/2 pairs into
    * one reducer (the quadratic case BucketGuardSpec pins). With the
    * guard, each cell contributes its representative star, so the result
    * is data-independent given the id set: (min_id, other, 1.0) for every
    * other doc — which is why a plain-SQL oracle can check an
    * xxhash64-based operator here. */
  def q73SkewNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < PlantedCap)
    val one = broadcast(docs.orderBy(col("doc_id")).limit(1)
      .select(col("text").as("__t")))
    val degen = docs.crossJoin(one)
      .select(col("doc_id"), col("__t").as("text"))
    NearDup.minhashPairs(degen, "doc_id", "text", shingleSize = 3,
        bands = 8, rowsPerBand = 2, threshold = 0.5, maxBucketSize = 100)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Composed document-cleaning pipeline: lang filter → quality filter →
    * exact dedup → near-dup cluster dedup; returns the surviving corpus
    * ids (no oracle — MinHash stage). */
  def q60DocPipeline(s: SparkSession, dir: String): DataFrame =
    DocPipeline.clean(t(s, dir, "documents"), "doc_id", "text",
        DocPipeline.Config(allowedLangs = Seq("en"), minQuality = 0.3,
          shingleSize = 2, jaccardThreshold = 0.5),
        collectStats = false)
      .cleaned.select(col("doc_id"), col("lang"), col("n_chars"))

  // ------------------------------------------------------------- registries

  /** Int8-quantized corpus export (q8 as CSV of ints, scale as exact
    * floor-contract integer) — the cross-engine-stable form of an
    * array<tinyint> column. */
  def q90QuantizeInt8(s: SparkSession, dir: String): DataFrame =
    VectorQuant.quantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"),
        concat_ws(",", col("q8").cast("array<string>")).as("q8_csv"),
        floor(col("scale") * 1e9 + 0.5).cast("long").as("scale_x1e9"))

  /** Brute-force cosine top-k over the int8-quantized corpus: cosine is
    * scale-invariant, so ranking runs on the quantized arrays directly
    * (and, the integer dot products being exact in double, the scores are
    * bit-identical across engines). */
  def q91QuantizedTopK(s: SparkSession, dir: String): DataFrame =
    VectorQuant.topK(
        VectorQuant.quantize(t(s, dir, "embeddings"), "vec_id", "embedding"),
        "vec_id", queryId = 0L, k = 20)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))

  /** Context-length chunking: every document split into 50-token windows
    * with stride 40 (10-token overlap), scan-side via the codegen'd
    * [[graft.expressions.GraftFunctions.tokenChunks]] — the explode
    * emits finished chunks with no exchange, the same discipline as the
    * shingle pipeline. */
  def q95ChunkDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      posexplode(graft.expressions.GraftFunctions.tokenChunks(
        TextFunctions.tokens(col("text")), size = 50, stride = 40))
        .as(Seq("chunk_id", "chunk")))

  /** Chunk-then-pack planning: the context-prep composition — every doc's
    * 50/40 chunk stream (counts via the TokenChunks tail rule, exact
    * integer arithmetic) packed into 512-token bins per shard. The whole
    * plan is scan-side projections + one sharded window; no join, no
    * global ordering. */
  def q97ChunkPack(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).as("n"))
    val chunks = base
      // nch − 1 = greatest(n − size + stride − 1, 0) div stride
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr("greatest(n - 11, 0) div 40"))))
      .select(
        (col("doc_id") * 1000 + col("chunk_id")).as("cid"),
        (col("doc_id") % 8).cast("int").as("shard"),
        least(lit(50L), col("n") - col("chunk_id") * 40).cast("int")
          .as("n_tokens"))
    Packing.packBins(chunks, "cid", "n_tokens", Seq("shard"),
        targetTokens = 512)
      .select(col("shard"), col("cid"), col("n_tokens"), col("bin"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_token_stats" -> (q20TokenStats _),
    "q21_text_quality" -> (q21TextQuality _),
    "q22_dedup_exact" -> (q22DedupExact _),
    "q23_langid" -> (q23LangId _),
    "q24_fingerprint" -> (q24Fingerprint _),
    "q25_rolling_fingerprint" -> (q25RollingFingerprint _),
    "q26_minhash_bands" -> (q26MinhashBands _),
    "q27_minhash_pairs" -> (q27MinhashPairs _),
    "q28_simhash_pairs" -> (q28SimhashPairs _),
    "q29_ngram_jaccard" -> (q29NgramJaccard _),
    "q30_cosine_topk" -> (q30CosineTopK _),
    "q31_lsh_buckets" -> (q31LshBuckets _),
    "q32_lsh_topk" -> (q32LshTopK _),
    "q71_lsh_indexed" -> (q71LshIndexed _),
    "q125_multi_lsh" -> (q125MultiLsh _),
    "q33_cosine_neardup" -> (q33CosineNearDup _),
    "q46_topk_join" -> (q46TopKJoin _),
    "q59_ivf_topk" -> (q59IvfTopK _),
    "q68_ivf_indexed" -> (q68IvfIndexed _),
    "q60_doc_pipeline" -> (q60DocPipeline _),
    "q73_skew_neardup" -> (q73SkewNearDup _),
    "q74_sql_neardup" -> (q74SqlNearDup _),
    "q75_hash_split" -> (q75HashSplit _),
    "q76_group_cap" -> (q76GroupCap _),
    "q77_vector_norm" -> (q77VectorNorm _),
    "q78_group_centroids" -> (q78GroupCentroids _),
    "q79_redact" -> (q79Redact _),
    "q80_pack_bins" -> (q80PackBins _),
    "q81_bpe_tokens" -> (q81BpeTokens _),
    "q82_decontaminate" -> (q82Decontaminate _),
    "q83_repetition" -> (q83Repetition _),
    "q84_semantic_dedup" -> (q84SemanticDedup _),
    "q85_stratified_sample" -> (q85StratifiedSample _),
    "q86_incremental_neardup" -> (q86IncrementalNearDup _),
    "q90_quantize_int8" -> (q90QuantizeInt8 _),
    "q91_quantized_topk" -> (q91QuantizedTopK _),
    "q92_quantized_lsh" -> (q92QuantizedLshIndexed _),
    "q95_chunk_docs" -> (q95ChunkDocs _),
    "q97_chunk_pack" -> (q97ChunkPack _),
    "q98_quantized_ivf" -> (q98QuantizedIvf _),
    "q101_weighted_sample" -> (q101WeightedSample _),
    "q102_temperature_sample" -> (q102TemperatureSample _),
    "q103_keywords" -> (q103Keywords _),
    "q104_span_dedup" -> (q104SpanDedup _),
    "q124_run_dedup" -> (q124RunDedup _),
    "q133_boilerplate_strip" -> (q133BoilerplateStrip _),
    "q134_pq_codes" -> (q134PqCodes _),
    "q135_pq_topk" -> (q135PqTopK _),
    "q136_pq_refined" -> (q136PqRefined _),
    "q137_ivfpq_topk" -> (q137IvfPqTopK _),
    "q138_ivfpq_refined" -> (q138IvfPqRefined _),
    "q146_residual_ivfpq" -> (q146ResidualIvfPq _),
    "q139_zorder_keys" -> (q139ZorderKeys _),
    "q140_contamination_ratio" -> (q140ContaminationRatio _),
    "q141_orc_roundtrip" -> (q141OrcRoundtrip _),
    "q143_csv_roundtrip" -> (q143CsvRoundtrip _),
    "q144_hll_distinct" -> (q144HllDistinct _),
    "q153_cms_heavyhitters" -> (q153CmsHeavyHitters _),
    "q145_stats_pruned" -> (q145StatsPruned _),
    "q142_pagerank" -> (q142PageRank _),
    "q158_labelprop" -> (q158LabelProp _),
    "q159_triangles" -> (q159Triangles _),
    "q160_category_encode" -> (q160CategoryEncode _),
    "q161_compression_ratio" -> (q161CompressionRatio _),
    "q162_hist_quantiles" -> (q162HistQuantiles _),
    "q163_incremental_refresh" -> (q163IncrementalRefresh _),
    "q164_kll_quantiles" -> (q164KllQuantiles _),
    "q165_stream_kll_profile" -> (q165StreamKllProfile _),
    "q166_sql_kll" -> (q166SqlKll _),
    "q167_theta_overlap" -> (q167ThetaOverlap _),
    "q170_stream_theta_overlap" -> (q170StreamThetaOverlap _),
    "q171_stream_crawl_dedup" -> (q171StreamCrawlDedup _),
    "q172_stream_hll_users" -> (q172StreamHllUsers _),
    "q173_stream_cms_heavyhitters" -> (q173StreamCmsHeavyHitters _),
    "q174_sql_hll" -> (q174SqlHll _),
    "q175_fingerprint_classes" -> (q175FingerprintClasses _),
    "q176_planted_simhash" -> (q176PlantedSimhash _),
    "q184_minhash_band_classes" -> (q184MinhashBandClasses _),
    "q185_simhash_sig_classes" -> (q185SimhashSigClasses _),
    "q177_planted_docpipeline" -> (q177PlantedDocPipeline _),
    "q178_repetition_segments" -> (q178RepetitionSegments _),
    "q179_top_ngrams" -> (q179TopNgrams _),
    "q180_dup_ngrams" -> (q180DupNgrams _),
    "q181_gopher_fused" -> (q181GopherFused _),
    "q182_gopher_quality" -> (q182GopherQuality _),
    "q168_bloom_pruned" -> (q168BloomPruned _),
    "q187_auto_pruned_scan" -> (q187AutoPrunedScan _),
    "q188_partitioned_auto_prune" -> (q188PartitionedAutoPrune _),
    "q189_zorder_auto_prune" -> (q189ZorderAutoPrune _),
    "q199_catalog_auto_prune" -> (q199CatalogAutoPrune _),
    "q126_sql_sampling" -> (q126SqlSampling _),
    "q109_lm_score" -> (q109LmScore _),
    "q112_vocab" -> (q112Vocab _),
    "q114_best_dedup" -> (q114BestDedup _),
    "q115_collocations" -> (q115Collocations _),
    "q117_bloom_decontaminate" -> (q117BloomDecontaminate _),
    "q118_packed_sequences" -> (q118PackedSequences _),
    "q119_epoch_order" -> (q119EpochOrder _),
    "q120_upsample" -> (q120Upsample _),
    "q121_mixture_resample" -> (q121MixtureResample _))

  private val splitToks = "regexp_split_to_array(text, '\\s+')"

  /** Exact replay for q167/q170: distinct (type, user) pairs joined on
    * user give the true overlaps; sketches are in exact mode by
    * construction, so both the one-shot and the streamed build must
    * reproduce this bit-for-bit. */
  private val thetaOverlapOracle: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |t AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY 1),
      |pr AS (
      |  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
      |         ta.n AS users_a, tb.n AS users_b
      |  FROM t ta, t tb WHERE ta.event_type < tb.event_type),
      |ov AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         COUNT(*) AS c
      |  FROM u a JOIN u b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT pr.type_a, pr.type_b, pr.users_a, pr.users_b,
      |  COALESCE(ov.c, 0) AS overlap,
      |  pr.users_a - COALESCE(ov.c, 0) AS only_a
      |FROM pr LEFT JOIN ov USING (type_a, type_b)
      |ORDER BY type_a, type_b""".stripMargin

  /** Sign-LSH bucket as DuckDB SQL over literal hyperplanes: bit h is the
    * sign of dot(vec, plane_h) — the exact formula of
    * [[Similarity.lshBucket]], computed in double on both sides (the
    * planes are deterministic, seed 42, and Double.toString round-trips,
    * so the dot products are bit-identical — q31 proves the contract). */
  private def bucketSql(planes: Seq[Seq[Double]], vecExpr: String): String =
    planes.zipWithIndex.map { case (p, h) =>
      val lit = p.map(v => java.lang.Double.toString(v)).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product($vecExpr, $lit) > 0 THEN ${1L << h} ELSE 0 END)"
    }.mkString(" + ")

  /** IVF oracle: the run's fitted centroids (and the Scala-side probe
    * choice) embedded as literals; the assignment reproduces
    * Ivf.nearestCluster bit-for-bit — d_i = ||c_i||² − 2·v·c_i with the
    * ||c_i||² fold computed once in Scala and round-tripped through
    * Double.toString, ties to the lowest cluster via first-match CASE.
    * Valid for both q59 (inline assignment) and q68 (materialized index):
    * the index holds exactly these assignments. Generated only once a
    * query has populated the per-dir cache — Verify runs queries before
    * dumping oracle SQL, so the driver always gets it; if several dirs
    * were mixed in one process the mapping would be ambiguous, so we emit
    * nothing and those rows degrade to rows-only. */
  /** PQ oracles generated from the SAME fitted codebooks the queries use
    * (the ivfOracles discipline): the oracle replays every subspace's
    * ||c||²−2·v·c argmin with first-match-on-least tie-breaking —
    * identical literals, identical left-assoc arithmetic — so the packed
    * BIGINT codes must match bit-for-bit, and the ADC distance sums the
    * same literal table entries in the same order. */
  private def pqOracles: Map[String, String] =
    if (pqCtxs.size != 1) Map.empty
    else {
      val ctx = pqCtxs.values.head
      val m = ctx.model
      val sub = m.subDim
      def ds(s: Int, i: Int) = s"d${s}_$i"
      // string->double CAST: DuckDB otherwise types plain decimal-point
      // literals as DECIMAL, silently switching the whole ADC chain to
      // decimal128 arithmetic (and ROUND to decimal output) — the verify
      // gate caught exactly that. Round-tripping through Double.toString
      // text pins the identical IEEE double on both engines.
      def dlit(x: Double) =
        s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
      val dCols = m.codebooks.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (c, i) =>
          val cc = dlit(c.map(x => x * x).sum)
          val arr = c.map(dlit).mkString("[", ",", "]")
          s"($cc - 2.0 * list_dot_product(" +
            s"e[${s * sub + 1}:${(s + 1) * sub}], $arr)) AS ${ds(s, i)}"
        }
      }.mkString(",\n  ")
      val mins = m.codebooks.indices.map { s =>
        m.codebooks(s).indices.map(i => ds(s, i))
          .mkString("least(", ", ", s") AS mn$s")
      }.mkString(", ")
      val cases = m.codebooks.indices.map { s =>
        "CASE " + m.codebooks(s).indices
          .map(i => s"WHEN ${ds(s, i)} = mn$s THEN $i").mkString(" ") +
          s" END AS c$s"
      }.mkString(",\n  ")
      val codeExpr = m.codebooks.indices
        .map(s => s"CAST(c$s AS BIGINT) * ${1L << (8 * s)}").mkString(" + ")
      val codes =
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |d AS (SELECT vec_id, e,
           |  $dCols
           |  FROM v),
           |a AS (SELECT vec_id,
           |  $cases
           |  FROM (SELECT *, $mins FROM d)),
           |codes AS (SELECT vec_id, ${m.codebooks.indices.map(s => s"c$s").mkString(", ")},
           |  $codeExpr AS pq_code FROM a)""".stripMargin
      val dist = m.adcTable(ctx.queryVec).zipWithIndex.map { case (tb, s) =>
        val arr = tb.map(dlit).mkString("[", ",", "]")
        s"list_extract($arr, c$s + 1)"
      }.mkString(" + ")
      val qq = dlit(ctx.queryVec.map(x => x * x).sum)
      val qArr = ctx.queryVec.map(dlit).mkString("[", ",", "]")
      // q137/q138 compose the SAME pq codes chain with the ivf model's
      // cluster assignment (reusing the codes CTE's v for the vectors);
      // emitted only when the ivf ctx is also unambiguous.
      val combined: Map[String, String] =
        if (ivfCtxs.size != 1) Map.empty
        else {
          val im = ivfCtxs.values.head.model
          val probes = ivfCtxs.values.head.probes
          val idCols = im.centroids.zipWithIndex.map { case (c, i) =>
            val cc = dlit(c.map(x => x * x).sum)
            val arr = c.map(dlit).mkString("[", ",", "]")
            s"($cc - 2.0 * list_dot_product(e, $arr)) AS id$i"
          }.mkString(",\n  ")
          val ileast = im.centroids.indices.map(i => s"id$i")
            .mkString("least(", ", ", ")")
          val icases = im.centroids.indices
            .map(i => s"WHEN id$i = imn THEN $i").mkString(" ")
          val joined =
            s"""$codes,
               |iv AS (SELECT vec_id,
               |  $idCols
               |  FROM v),
               |ia AS (SELECT vec_id, CASE $icases END AS cluster
               |       FROM (SELECT *, $ileast AS imn FROM iv)),
               |j AS (SELECT codes.*, ia.cluster
               |      FROM codes JOIN ia USING (vec_id))""".stripMargin
          Map(
            "q137_ivfpq_topk" ->
              s"""$joined
                 |SELECT vec_id, cluster, pq_code, ROUND($dist, 6) AS adc_dist
                 |FROM j WHERE cluster IN (${probes.mkString(", ")})
                 |  AND vec_id <> 0
                 |ORDER BY $dist, vec_id LIMIT 10""".stripMargin,
            "q138_ivfpq_refined" ->
              s"""$joined,
                 |cand AS (
                 |  SELECT vec_id FROM j
                 |  WHERE cluster IN (${probes.mkString(", ")}) AND vec_id <> 0
                 |  ORDER BY $dist, vec_id LIMIT 100)
                 |SELECT v.vec_id,
                 |  ROUND(list_dot_product(e, e) - 2.0 * list_dot_product(e, $qArr) + $qq, 6) AS l2sq
                 |FROM v JOIN cand USING (vec_id)
                 |ORDER BY list_dot_product(e, e) - 2.0 * list_dot_product(e, $qArr) + $qq, v.vec_id
                 |LIMIT 10""".stripMargin)
        }
      combined ++ Map(
        "q134_pq_codes" -> s"$codes\nSELECT vec_id, pq_code FROM codes",
        "q135_pq_topk" ->
          s"""$codes
             |SELECT vec_id, pq_code, ROUND($dist, 6) AS adc_dist
             |FROM codes WHERE vec_id <> 0
             |ORDER BY $dist, vec_id LIMIT 10""".stripMargin,
        "q136_pq_refined" ->
          // same codes CTE -> ADC top-100 candidate pool -> exact rerank
          s"""$codes,
             |cand AS (
             |  SELECT vec_id FROM codes WHERE vec_id <> 0
             |  ORDER BY $dist, vec_id LIMIT 100)
             |SELECT v.vec_id,
             |  ROUND(list_dot_product(e, e) - 2.0 * list_dot_product(e, $qArr) + $qq, 6) AS l2sq
             |FROM v JOIN cand USING (vec_id)
             |ORDER BY list_dot_product(e, e) - 2.0 * list_dot_product(e, $qArr) + $qq, v.vec_id
             |LIMIT 10""".stripMargin)
    }

  /** q146: the residual-IVF-PQ chain replayed end to end — coarse-cell
    * CASE, then per-subspace residual argmin via the SAME per-(code,
    * cell) constant literals the Spark plan folds in, then per-cell ADC
    * tables as nested literals indexed by (cluster, code). */
  private def residualOracles: Map[String, String] =
    if (ivfCtxs.size != 1 || pqCtxs.size != 1 || resCtxs.size != 1)
      Map.empty
    else {
      val im = ivfCtxs.values.head.model
      val probes = ivfCtxs.values.head.probes
      val q = pqCtxs.values.head.queryVec
      val rm = resCtxs.values.head
      val sub = rm.subDim
      def dlit(x: Double) =
        s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
      val idCols = im.centroids.zipWithIndex.map { case (c, i) =>
        val cc = dlit(c.map(x => x * x).sum)
        val arr = c.map(dlit).mkString("[", ",", "]")
        s"($cc - 2.0 * list_dot_product(e, $arr)) AS id$i"
      }.mkString(",\n  ")
      val ileast = im.centroids.indices.map(i => s"id$i")
        .mkString("least(", ", ", ")")
      val icases = im.centroids.indices
        .map(i => s"WHEN id$i = imn THEN $i").mkString(" ")
      def rdName(si: Int, i: Int) = s"rd${si}_$i"
      val rdCols = rm.codebooks.zipWithIndex.flatMap { case (book, si) =>
        val consts = graft.operators.Pq.residualConsts(im, book, si, sub)
        book.zipWithIndex.map { case (c, i) =>
          val clit = consts(i).map(dlit).mkString("[", ",", "]")
          val blit = c.map(dlit).mkString("[", ",", "]")
          s"(list_extract($clit, cluster + 1) - 2.0 * list_dot_product(" +
            s"e[${si * sub + 1}:${(si + 1) * sub}], $blit)) AS ${rdName(si, i)}"
        }
      }.mkString(",\n  ")
      val rmins = rm.codebooks.indices.map { si =>
        rm.codebooks(si).indices.map(i => rdName(si, i))
          .mkString("least(", ", ", s") AS rmn$si")
      }.mkString(", ")
      val rcases = rm.codebooks.indices.map { si =>
        "CASE " + rm.codebooks(si).indices
          .map(i => s"WHEN ${rdName(si, i)} = rmn$si THEN $i")
          .mkString(" ") + s" END AS rc$si"
      }.mkString(",\n  ")
      val packExpr = rm.codebooks.indices
        .map(si => s"CAST(rc$si AS BIGINT) * ${1L << (8 * si)}")
        .mkString(" + ")
      val tables = graft.operators.Pq.residualAdcTables(im, rm, q)
      val dist = (0 until rm.m).map { si =>
        val nested = tables(si)
          .map(cell => cell.map(dlit).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
        s"list_extract(list_extract($nested, cluster + 1), rc$si + 1)"
      }.mkString(" + ")
      Map("q146_residual_ivfpq" ->
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |iv AS (SELECT vec_id, e,
           |  $idCols
           |  FROM v),
           |ia AS (SELECT vec_id, e, CASE $icases END AS cluster
           |       FROM (SELECT *, $ileast AS imn FROM iv)),
           |rd AS (SELECT vec_id, cluster,
           |  $rdCols
           |  FROM ia),
           |ra AS (SELECT vec_id, cluster,
           |  $rcases
           |  FROM (SELECT *, $rmins FROM rd)),
           |codes AS (SELECT vec_id, cluster,
           |  ${rm.codebooks.indices.map(si => s"rc$si").mkString(", ")},
           |  $packExpr AS pq_code FROM ra)
           |SELECT vec_id, cluster, pq_code, ROUND($dist, 6) AS adc_dist
           |FROM codes WHERE cluster IN (${probes.mkString(", ")})
           |  AND vec_id <> 0
           |ORDER BY $dist, vec_id LIMIT 10""".stripMargin)
    }

  private def ivfOracles: Map[String, String] =
    if (ivfCtxs.size != 1) Map.empty
    else {
      val ctx = ivfCtxs.values.head
      val m = ctx.model
      val dCols = m.centroids.zipWithIndex.map { case (c, i) =>
        val cc = java.lang.Double.toString(c.map(x => x * x).sum)
        val lit = c.map(v => java.lang.Double.toString(v)).mkString("[", ",", "]")
        s"($cc - 2.0 * list_dot_product(e, $lit)) AS d$i"
      }.mkString(", ")
      val least = m.centroids.indices.map(i => s"d$i")
        .mkString("least(", ", ", ")")
      val cases = m.centroids.indices.map(i => s"WHEN d$i = mn THEN $i")
        .mkString(" ")
      val sql =
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |d AS (SELECT vec_id, e, $dCols FROM v),
           |a AS (SELECT vec_id, e, CASE $cases END AS cluster
           |      FROM (SELECT *, $least AS mn FROM d)),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT a.vec_id, a.cluster,
           |  ROUND(list_cosine_similarity(a.e, q.qe), 6) AS cos
           |FROM a, q
           |WHERE a.cluster IN (${ctx.probes.mkString(", ")}) AND a.vec_id <> 0
           |ORDER BY list_cosine_similarity(a.e, q.qe) DESC, a.vec_id
           |LIMIT 10""".stripMargin
      val semdedup =
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |d AS (SELECT vec_id, e, $dCols FROM v),
           |a AS (SELECT vec_id, e, CASE $cases END AS cluster
           |      FROM (SELECT *, $least AS mn FROM d))
           |SELECT a.vec_id, a.cluster FROM a
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM a b
           |  WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
           |    AND list_cosine_similarity(b.e, a.e) > 0.2)""".stripMargin
      // q98: same cluster assignment + probe set, ranking over the
      // int8-quantized vectors (exact-integer dots — oracle-stable)
      val qsql =
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |d AS (SELECT vec_id, e, $dCols FROM v),
           |a AS (SELECT vec_id, e, CASE $cases END AS cluster
           |      FROM (SELECT *, $least AS mn FROM d)),
           |mm AS (SELECT vec_id, cluster, e,
           |  list_max(list_transform(e, x -> abs(x))) AS mx FROM a),
           |qq AS (SELECT vec_id, cluster, list_transform(e, x ->
           |  CASE WHEN mx > 0 THEN floor(x * 127 / mx + 0.5)
           |       ELSE CAST(0 AS DOUBLE) END) AS qv FROM mm),
           |t AS (SELECT qv AS tq FROM qq WHERE vec_id = 0)
           |SELECT qq.vec_id, qq.cluster,
           |  ROUND(list_cosine_similarity(qq.qv, t.tq), 6) AS cos
           |FROM qq, t
           |WHERE qq.cluster IN (${ctx.probes.mkString(", ")}) AND qq.vec_id <> 0
           |ORDER BY list_cosine_similarity(qq.qv, t.tq) DESC, qq.vec_id
           |LIMIT 10""".stripMargin
      Map("q59_ivf_topk" -> sql, "q68_ivf_indexed" -> sql,
        "q84_semantic_dedup" -> semdedup, "q98_quantized_ivf" -> qsql)
    }

  /** Multi-probe = Hamming<=1 between query and candidate buckets; shared
    * by q32 (inline buckets) and q71 (materialized index — same rows). */
  private lazy val lshTopkOracleSql: String = {
    val terms = bucketSql(graft.operators.Similarity.hyperplanes(8, 64), "e")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (SELECT vec_id, e, CAST($terms AS BIGINT) AS bucket FROM v),
       |q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
       |SELECT b.vec_id, ROUND(list_cosine_similarity(b.e, q.qe), 6) AS cos,
       |  b.bucket
       |FROM b, q
       |WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, q.qb)) <= 1
       |ORDER BY list_cosine_similarity(b.e, q.qe) DESC, b.vec_id
       |LIMIT 10""".stripMargin
  }

  /** q125: all four per-table buckets + the OR of Hamming<=1 probes —
    * a brute-force replay of the multi-table candidate rule (no index
    * structure assumed on the oracle side). */
  private lazy val multiLshOracleSql: String = {
    val bCols = (0 until 4).map { t =>
      val terms = bucketSql(
        graft.operators.Similarity.hyperplanes(4, 64, 42L + t), "e")
      s"CAST($terms AS BIGINT) AS b$t"
    }.mkString(", ")
    val qCols = (0 until 4).map(t => s"b$t AS q$t").mkString(", ")
    val cond = (0 until 4)
      .map(t => s"bit_count(xor(b.b$t, q.q$t)) <= 1").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bCols FROM v),
       |q AS (SELECT e AS qe, $qCols FROM b WHERE vec_id = 0)
       |SELECT b.vec_id, ROUND(list_cosine_similarity(b.e, q.qe), 6) AS cos
       |FROM b, q
       |WHERE b.vec_id <> 0 AND ($cond)
       |ORDER BY list_cosine_similarity(b.e, q.qe) DESC, b.vec_id
       |LIMIT 10""".stripMargin
  }

  /** q92: bucket from the FLOAT vector (identical to q32/q71), ranking
    * over the int8-quantized arrays — the quantized dots are exact
    * integers in double, so scores are bit-identical across engines. */
  private lazy val quantizedLshOracleSql: String = {
    val terms = bucketSql(graft.operators.Similarity.hyperplanes(8, 64), "e")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |mm AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
       |b AS (SELECT vec_id, e, mx, CAST($terms AS BIGINT) AS bucket FROM mm),
       |qq AS (SELECT vec_id, bucket, list_transform(e, x -> CASE WHEN mx > 0
       |  THEN floor(x * 127 / mx + 0.5) ELSE CAST(0 AS DOUBLE) END) AS qv FROM b),
       |t AS (SELECT qv AS tq, bucket AS qb FROM qq WHERE vec_id = 0)
       |SELECT qq.vec_id, ROUND(list_cosine_similarity(qq.qv, t.tq), 6) AS cos,
       |  qq.bucket
       |FROM qq, t
       |WHERE qq.vec_id <> 0 AND bit_count(xor(qq.bucket, t.qb)) <= 1
       |ORDER BY list_cosine_similarity(qq.qv, t.tq) DESC, qq.vec_id
       |LIMIT 10""".stripMargin
  }

  /** q102 oracle: the run's computed temperature fractions embedded as
    * literal hex thresholds through THE SAME [[Sampling.hexThreshold]]
    * the operator filters with — bit-identical by construction (the q59
    * generated-literal discipline applied to sampling). Emitted only once
    * a query populated the single-dir cache, like ivfOracles. */
  private def tempOracles: Map[String, String] =
    if (tempCtxs.size != 1) Map.empty
    else {
      val cases = tempCtxs.values.head.toSeq.sorted.map { case (g, f) =>
        s"WHEN '$g' THEN '${hx(f)}'"
      }.mkString(" ")
      Map("q102_temperature_sample" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE lang IS NOT NULL
           |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
           |    CASE lang $cases ELSE '${hx(0.0)}' END""".stripMargin)
    }

  /** q121 oracle: the run's mixture factors as literal floor counts +
    * hex thresholds via the operator's own arithmetic (same pattern as
    * tempOracles). */
  private def mixOracles: Map[String, String] =
    if (mixCtxs.size != 1) Map.empty
    else {
      val cases = mixCtxs.values.head.toSeq.sorted.map { case (g, f) =>
        val fl = math.floor(f).toLong
        val thr = Sampling.hexThreshold(f - math.floor(f))
        s"WHEN '$g' THEN $fl + (CASE WHEN " +
          s"substr(md5(CAST(doc_id AS VARCHAR) || '#m'), 1, 4) < '$thr' " +
          "THEN 1 ELSE 0 END)"
      }.mkString(" ")
      Map("q121_mixture_resample" ->
        s"""WITH c AS (
           |  SELECT doc_id, lang,
           |    CASE lang $cases ELSE 0 END AS n
           |  FROM documents)
           |SELECT doc_id, lang,
           |  unnest(generate_series(0, n - 1)) AS copy
           |FROM c WHERE n >= 1""".stripMargin)
    }

  def oracles: Map[String, String] = staticOracles ++ ivfOracles ++
    residualOracles ++
    pqOracles ++ tempOracles ++ mixOracles ++
    // the bloom path is exactly q82 by construction -> same oracle
    Map("q117_bloom_decontaminate" -> staticOracles("q82_decontaminate")) ++
    // CSV round-trip must reproduce exactly what the ORC round-trip does
    Map("q143_csv_roundtrip" -> staticOracles("q141_orc_roundtrip")) ++
    Map("q92_quantized_lsh" -> quantizedLshOracleSql,
      "q97_chunk_pack" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS n
          |  FROM documents),
          |s AS (
          |  SELECT doc_id, n,
          |    unnest(generate_series(0, greatest(n - 11, 0) // 40)) AS chunk_id
          |  FROM t),
          |ch AS (
          |  SELECT doc_id * 1000 + chunk_id AS cid,
          |    CAST(doc_id % 8 AS INTEGER) AS shard,
          |    CAST(least(50, n - chunk_id * 40) AS INTEGER) AS n_tokens
          |  FROM s),
          |w AS (
          |  SELECT shard, cid, n_tokens,
          |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY cid
          |      ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM ch)
          |SELECT shard, cid, n_tokens,
          |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
          |FROM w""".stripMargin,
      "q95_chunk_docs" ->
        // chunk count ⌈max(1, n−size+stride)/stride⌉ — the Spark
        // expression's no-fully-overlapped-tail rule; slices clamp at n
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, t, len(t) AS n,
          |    CASE WHEN len(t) = 0 THEN 0
          |         ELSE greatest(0, len(t) - 50 + 40 - 1) // 40 + 1 END AS nch
          |  FROM toks),
          |s AS (
          |  SELECT doc_id, t, n,
          |    unnest(generate_series(0, nch - 1)) AS chunk_id
          |  FROM c WHERE nch > 0)
          |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
          |  array_to_string(t[chunk_id * 40 + 1 : least(chunk_id * 40 + 50, n)], ' ') AS chunk
          |FROM s""".stripMargin)

  /** THE threshold function Sampling filters with (not a re-derivation —
    * the oracle must stay bit-identical to the operator by construction);
    * hex strings compare lexicographically = numerically, and DuckDB's
    * md5 of the same decimal string is byte-identical to Spark's. */
  private def hx(f: Double): String = Sampling.hexThreshold(f)

  private val staticOracles: Map[String, String] = Map(
    "q139_zorder_keys" -> {
      // the Morton interleave replayed as a bit-operator chain: column 0
      // (l_partkey % 1024) owns even lanes, column 1 odd lanes
      val terms = (0 until 10).flatMap(b => Seq(
        s"((((l_partkey % 1024) >> $b) & 1) << ${2 * b})",
        s"((((l_suppkey % 1024) >> $b) & 1) << ${2 * b + 1})"))
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(${terms.mkString(" | ")} AS BIGINT) AS zaddr
         |FROM lineitem""".stripMargin
    },
    "q75_hash_split" ->
      s"""WITH b AS (
         |  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hb
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN hb < '${hx(0.8)}' THEN 'train'
         |       WHEN hb < '${hx(0.9)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b WHERE hb < '${hx(0.5)}'""".stripMargin,
    "q85_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
         |  CASE lang WHEN 'en' THEN '${hx(0.3)}' WHEN 'de' THEN '${hx(0.8)}'
         |            WHEN 'fr' THEN '${hx(1.0)}' WHEN 'zh' THEN '${hx(0.5)}'
         |            ELSE '${hx(0.0)}' END""".stripMargin,
    "q103_keywords" ->
      // same integer score, same (score DESC, term) tie-break; N counts
      // every distinct doc_id, matching the operator's countDistinct
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE length(term) >= 3 GROUP BY 1, 2),
        |d AS (SELECT term, COUNT(*) AS dfreq FROM f GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
        |s AS (
        |  SELECT f.doc_id, f.term, f.tf,
        |    CAST((f.tf * n.nd * 1000000) // d.dfreq AS BIGINT) AS score_ppm
        |  FROM f JOIN d USING (term), n),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_ppm DESC, term) AS rn
        |  FROM s)
        |SELECT doc_id, term, tf, score_ppm FROM r WHERE rn <= 5""".stripMargin,
    "q115_collocations" ->
      // identical op-order ratio ((c12*nt)*nt)/((nb*c1)*c2); rank on the
      // ratio, ln + 6dp only on the export
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
        |  FROM documents),
        |uni AS (SELECT tok, COUNT(*) AS cu FROM toks GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS nt FROM toks),
        |tk AS (
        |  SELECT regexp_split_to_array(text, '\s+') AS t FROM documents),
        |bgx AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2, t[i] || ' ' || t[i + 1] AS bg
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tk WHERE len(t) >= 2)),
        |nbt AS (SELECT COUNT(*) AS nb FROM bgx),
        |c12 AS (SELECT bg, w1, w2, COUNT(*) AS n12 FROM bgx GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT c12.bg, c12.n12,
        |    (CAST(n12 AS DOUBLE) * tt.nt * tt.nt) /
        |    (CAST(nbt.nb AS DOUBLE) * u1.cu * u2.cu) AS ratio
        |  FROM c12
        |  JOIN uni u1 ON u1.tok = c12.w1
        |  JOIN uni u2 ON u2.tok = c12.w2, tt, nbt
        |  WHERE n12 >= 5)
        |SELECT bg, n12, ROUND(ln(ratio), 6) AS pmi
        |FROM s ORDER BY ratio DESC, bg LIMIT 20""".stripMargin,
    "q114_best_dedup" ->
      // clusters are exact-text groups, so partition-by-text rank
      // reproduces components + best-keeper exactly
      """WITH c AS (
        |  SELECT doc_id, text, CAST(doc_id % 7 AS DOUBLE) AS q
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text,
        |    CAST((doc_id + 3) % 7 AS DOUBLE) AS q
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, q, row_number() OVER (PARTITION BY text
        |    ORDER BY q DESC, doc_id) AS rn
        |  FROM c)
        |SELECT doc_id, q FROM r WHERE rn = 1""".stripMargin,
    "q120_upsample" ->
      s"""WITH c AS (
         |  SELECT doc_id, lang,
         |    2 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#u'), 1, 4)
         |             < '${hx(2.3 - math.floor(2.3))}' THEN 1 ELSE 0 END AS n
         |  FROM documents)
         |SELECT doc_id, lang,
         |  unnest(generate_series(0, n - 1)) AS copy
         |FROM c""".stripMargin,
    "q119_epoch_order" ->
      """SELECT doc_id,
        |  md5('1-' || CAST(doc_id AS VARCHAR)) AS ok1,
        |  md5('2-' || CAST(doc_id AS VARCHAR)) AS ok2
        |FROM documents""".stripMargin,
    "q118_packed_sequences" ->
      // q80's bin rule + ordered string_agg emission
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard, text,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |b AS (SELECT *, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin FROM c)
        |SELECT shard, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
        |  string_agg(text, ' <eod> ' ORDER BY doc_id) AS sequence
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q112_vocab" ->
      // same (count desc, token asc) vocabulary boundary, same sentinel
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, i, t[i] AS tok
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t))) AS i FROM toks)),
        |cnt AS (SELECT tok, COUNT(*) AS n FROM ex GROUP BY 1),
        |v AS (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 16),
        |r AS (
        |  SELECT e.doc_id, e.i,
        |    CASE WHEN v.tok IS NULL THEN '<unk>' ELSE e.tok END AS tok2
        |  FROM ex e LEFT JOIN v ON e.tok = v.tok)
        |SELECT doc_id, string_agg(tok2, ' ' ORDER BY i) AS clean_text,
        |  COUNT(CASE WHEN tok2 = '<unk>' THEN 1 END) AS n_unk
        |FROM r GROUP BY 1""".stripMargin,
    "q109_lm_score" ->
      // same exact counts, same ratio; ln + 6dp round per the q30
      // cross-engine contract
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM toks WHERE len(t) >= 2),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS b
        |  FROM idx),
        |c12 AS (SELECT b, COUNT(*) AS n12 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
        |s AS (
        |  SELECT g.doc_id, ln(CAST(n12 AS DOUBLE) / n1) AS lp
        |  FROM bg g JOIN c12 USING (b) JOIN c1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS avg_logp
        |FROM s GROUP BY 1""".stripMargin,
    "q104_span_dedup" ->
      // q95's chunking shape at size=stride=3; winner-per-span via
      // row_number over the span text (= the operator's md5 key,
      // injectively); reassembly string_agg ordered by span position
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) = 0 THEN 0
        |         ELSE greatest(0, len(t) - 1) // 3 + 1 END AS nch
        |  FROM toks),
        |s AS (
        |  SELECT doc_id, t, n,
        |    unnest(generate_series(0, nch - 1)) AS span_idx
        |  FROM c WHERE nch > 0),
        |sp AS (
        |  SELECT doc_id, span_idx,
        |    array_to_string(t[span_idx * 3 + 1 : least(span_idx * 3 + 3, n)],
        |      ' ') AS span
        |  FROM s),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY span
        |    ORDER BY doc_id, span_idx) AS rn
        |  FROM sp)
        |SELECT doc_id,
        |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text,
        |  COUNT(*) AS n_spans
        |FROM r WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    // the shared string IS the oracle (q93 pattern — cannot diverge)
    "q126_sql_sampling" -> samplingSql,
    "q124_run_dedup" ->
      // q104's span grid + first-occurrence flag, then gaps-and-islands:
      // run id = running sum of flag-change boundaries; dup runs shorter
      // than 2 spans survive
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) = 0 THEN 0
        |         ELSE greatest(0, len(t) - 1) // 3 + 1 END AS nch
        |  FROM toks),
        |s AS (
        |  SELECT doc_id, t, n,
        |    unnest(generate_series(0, nch - 1)) AS span_idx
        |  FROM c WHERE nch > 0),
        |sp AS (
        |  SELECT doc_id, span_idx,
        |    array_to_string(t[span_idx * 3 + 1 : least(span_idx * 3 + 3, n)],
        |      ' ') AS span
        |  FROM s),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY span
        |    ORDER BY doc_id, span_idx) AS rn
        |  FROM sp),
        |f AS (
        |  SELECT doc_id, span_idx, span, (rn > 1) AS dup FROM r),
        |g0 AS (
        |  SELECT *, CASE WHEN dup <> coalesce(
        |      lag(dup) OVER (PARTITION BY doc_id ORDER BY span_idx),
        |      NOT dup) THEN 1 ELSE 0 END AS bnd
        |  FROM f),
        |g AS (
        |  SELECT *, SUM(bnd) OVER (PARTITION BY doc_id ORDER BY span_idx
        |    ROWS UNBOUNDED PRECEDING) AS rk
        |  FROM g0),
        |rl AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, rk) AS run_len
        |  FROM g)
        |SELECT doc_id,
        |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text,
        |  COUNT(*) AS n_spans
        |FROM rl WHERE NOT dup OR run_len < 2
        |GROUP BY doc_id""".stripMargin,
    "q133_boilerplate_strip" ->
      // q104's span grid; a span in >= 3 distinct docs is boilerplate —
      // EVERY occurrence removed (vs q104's keep-first)
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) = 0 THEN 0
        |         ELSE greatest(0, len(t) - 1) // 3 + 1 END AS nch
        |  FROM toks),
        |s AS (
        |  SELECT doc_id, t, n,
        |    unnest(generate_series(0, nch - 1)) AS span_idx
        |  FROM c WHERE nch > 0),
        |sp AS (
        |  SELECT doc_id, span_idx,
        |    array_to_string(t[span_idx * 3 + 1 : least(span_idx * 3 + 3, n)],
        |      ' ') AS span
        |  FROM s),
        |df AS (
        |  SELECT span, COUNT(DISTINCT doc_id) AS d FROM sp GROUP BY 1)
        |SELECT doc_id,
        |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text,
        |  COUNT(*) AS n_spans
        |FROM sp JOIN df USING (span) WHERE d < 3
        |GROUP BY doc_id""".stripMargin,
    "q101_weighted_sample" ->
      // the operator's exact long-arithmetic decision, replayed literally
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) AS b
        |  FROM documents)
        |SELECT doc_id, n_tokens FROM w
        |WHERE b * 60 < n_tokens * 65536""".stripMargin,
    "q76_group_cap" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 20""".stripMargin,
    "q77_vector_norm" ->
      // the CASE mirrors L2Normalize's zero-vector passthrough exactly
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
        |SELECT vec_id, array_to_string(list_transform(e,
        |  x -> CAST(round(CASE WHEN nrm > 0 THEN x / nrm ELSE x END
        |                  * 1000000) AS BIGINT)), ',') AS unit_x1e6
        |FROM n""".stripMargin,
    "q83_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
        |  FROM toks),
        |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  COUNT(DISTINCT g) AS n_distinct,
        |  CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)
        |    AS rep_ratio
        |FROM sh GROUP BY 1""".stripMargin,
    "q140_contamination_ratio" ->
      // q82's shingle split, graded: LEFT join keeps zero-overlap docs,
      // ratio is exact integer ppm (no float in compared columns)
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |  FROM toks),
        |sh AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx),
        |tr AS (SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 50 <> 0),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0)
        |SELECT tr.doc_id,
        |  COUNT(*) AS n_shingles,
        |  COUNT(ev.g) AS n_shared,
        |  CAST(COUNT(ev.g) * 1000000 // COUNT(*) AS BIGINT) AS contamination_ppm
        |FROM tr LEFT JOIN ev ON tr.g = ev.g
        |GROUP BY 1""".stripMargin,
    "q142_pagerank" -> {
      // the exact fixed-point update, unrolled: integer ppm arithmetic
      // end to end, so every iteration matches the operator bit-for-bit
      def iter(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.node,
           |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_ppm
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(r.rank_ppm // d.outd) AS s
           |    FROM edges e
           |    JOIN $prev r ON e.src = r.node
           |    JOIN outdeg d ON e.src = d.node
           |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_suppkey AS a, o_custkey + 100000 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION ALL
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |outdeg AS (SELECT src AS node, COUNT(*) AS outd FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_ppm FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT node, rank_ppm FROM r3""".stripMargin
    },
    "q158_labelprop" -> {
      // the exact HashMin update, unrolled: labels are node ids, all
      // integer arithmetic, so each iteration matches bit-for-bit
      val iters = Seq("l0" -> "l1", "l1" -> "l2", "l2" -> "l3",
        "l3" -> "l4").map { case (prev, cur) =>
        s"""$cur AS (
           |  SELECT p.node,
           |    LEAST(p.label, COALESCE(c.m, p.label)) AS label
           |  FROM $prev p LEFT JOIN (
           |    SELECT e.dst AS node, MIN(r.label) AS m
           |    FROM edges e
           |    JOIN $prev r ON e.src = r.node
           |    GROUP BY e.dst) c ON p.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_suppkey AS a, o_custkey + 100000 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION ALL
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$iters
         |SELECT node, label FROM l4""".stripMargin
    },
    "q159_triangles" ->
      // orientation-free replay: each triangle appears exactly once as
      // a<b<c, so corner counts match the degree-oriented plan's
      """WITH e AS (
        |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey < y.l_partkey),
        |tri AS (
        |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, COUNT(*) AS n_triangles FROM (
        |  SELECT n1 AS node FROM tri
        |  UNION ALL SELECT n2 FROM tri
        |  UNION ALL SELECT n3 FROM tri)
        |GROUP BY node""".stripMargin,
    "q160_category_encode" ->
      // the exact fit order: frequency DESC, value ASC, 0-based
      """WITH d AS (
        |  SELECT p_brand AS value, COUNT(*) AS n FROM part
        |  WHERE p_brand IS NOT NULL GROUP BY 1),
        |dict AS (
        |  SELECT value,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, value) - 1 AS BIGINT)
        |      AS idx
        |  FROM d)
        |SELECT p.p_partkey, p.p_brand,
        |  CAST(COALESCE(dict.idx, -1) AS BIGINT) AS brand_idx
        |FROM part p LEFT JOIN dict ON p.p_brand = dict.value""".stripMargin,
    "q162_hist_quantiles" ->
      // q106's histogram grid + integer rank selection; edges are
      // exactly-rounded IEEE doubles so hi matches bit-for-bit
      """WITH b AS (
        |  SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS mn,
        |         MAX(CAST(l_extendedprice AS DOUBLE)) AS mx
        |  FROM lineitem),
        |bins AS (SELECT unnest(generate_series(0, 7)) AS bin),
        |cnt AS (
        |  SELECT least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - b.mn)
        |      * 8 / (b.mx - b.mn)) AS BIGINT), 7) AS bin,
        |    COUNT(*) AS n
        |  FROM lineitem, b WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |h AS (
        |  SELECT bin,
        |    CASE WHEN bin = 7 THEN b.mx
        |         ELSE b.mn + (bin + 1) * ((b.mx - b.mn) / 8) END AS hi,
        |    COALESCE(n, 0) AS n
        |  FROM bins LEFT JOIN cnt USING (bin), b),
        |c AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum FROM h),
        |tot AS (SELECT SUM(n) AS total FROM h),
        |p AS (SELECT unnest([25, 50, 75, 95, 100]) AS pct),
        |sel AS (
        |  SELECT p.pct, MIN(c.bin) AS bin
        |  FROM c, tot, p WHERE c.cum * 100 >= p.pct * tot.total
        |  GROUP BY p.pct)
        |SELECT CAST(sel.pct AS BIGINT) AS pct, sel.bin, h.hi AS q_value
        |FROM sel JOIN h USING (bin)""".stripMargin,
    "q153_cms_heavyhitters" ->
      // exact counts: binding because the sketch is collision-free for
      // this vocabulary by construction (see q153's scaladoc)
      """SELECT term, count(*) AS occurrences FROM (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS term
        |  FROM documents)
        |WHERE len(term) >= 1
        |GROUP BY term ORDER BY occurrences DESC, term LIMIT 20"""
        .stripMargin,
    "q164_kll_quantiles" ->
      // exact-regime replay: sketches retain everything at this scale,
      // so the INCLUSIVE rank rule (100*cum >= pct*N) is exact
      """WITH vals AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cnt AS (SELECT lang, v, COUNT(*) AS n FROM vals GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, v,
        |    SUM(n) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    SUM(n) OVER (PARTITION BY lang) AS total
        |  FROM cnt),
        |p AS (SELECT unnest([25, 50, 75, 95, 100]) AS pct),
        |sel AS (
        |  SELECT c.lang, p.pct, MIN(c.v) AS q_value, MIN(c.total) AS total
        |  FROM c, p WHERE c.cum * 100 >= p.pct * c.total
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(pct AS BIGINT) AS pct, q_value,
        |  CAST(total AS BIGINT) AS n_items
        |FROM sel ORDER BY lang, pct""".stripMargin,
    "q165_stream_kll_profile" ->
      // same full recompute as q164: the streamed two-drain profile
      // must equal it bit-for-bit (associative union, exact regime)
      """WITH vals AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cnt AS (SELECT lang, v, COUNT(*) AS n FROM vals GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, v,
        |    SUM(n) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    SUM(n) OVER (PARTITION BY lang) AS total
        |  FROM cnt),
        |p AS (SELECT unnest([25, 50, 75, 95, 100]) AS pct),
        |sel AS (
        |  SELECT c.lang, p.pct, MIN(c.v) AS q_value, MIN(c.total) AS total
        |  FROM c, p WHERE c.cum * 100 >= p.pct * c.total
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(pct AS BIGINT) AS pct, q_value,
        |  CAST(total AS BIGINT) AS n_items
        |FROM sel ORDER BY lang, pct""".stripMargin,
    "q166_sql_kll" ->
      // same full recompute as q164/q165: the pure-SQL sketch pipeline
      // must match it bit-for-bit (exact-retention regime)
      """WITH vals AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cnt AS (SELECT lang, v, COUNT(*) AS n FROM vals GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, v,
        |    SUM(n) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    SUM(n) OVER (PARTITION BY lang) AS total
        |  FROM cnt),
        |p AS (SELECT unnest([25, 50, 75, 95, 100]) AS pct),
        |sel AS (
        |  SELECT c.lang, p.pct, MIN(c.v) AS q_value, MIN(c.total) AS total
        |  FROM c, p WHERE c.cum * 100 >= p.pct * c.total
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(pct AS BIGINT) AS pct, q_value,
        |  CAST(total AS BIGINT) AS n_items
        |FROM sel ORDER BY lang, pct""".stripMargin,
    "q168_bloom_pruned" ->
      // computed from the RAW table (q145 discipline): the bloom index
      // may only reduce IO; a lost file would change these counts
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q187_auto_pruned_scan" ->
      // raw orders at the same deterministic key: the transparent
      // Catalyst pruning may only shrink the listing — a lost file
      // (over-pruning) or dropped predicate changes these rows
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders
        |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q188_partitioned_auto_prune" ->
      // raw events at the same data-derived (day, user) keys: the
      // composed partition+file pruning may only shrink the listing —
      // a lost partition directory or a lost file changes these rows
      """WITH md AS (SELECT min(CAST(ts AS DATE)) AS d FROM events),
        |mu AS (SELECT min(user_id) AS u FROM events, md
        |       WHERE CAST(ts AS DATE) = md.d)
        |SELECT event_id, user_id, value FROM events, md, mu
        |WHERE CAST(ts AS DATE) = md.d AND user_id = mu.u
        |ORDER BY event_id""".stripMargin,
    "q199_catalog_auto_prune" ->
      // the catalog-served pruned point slice replayed from RAW
      // lineitem: a file lost to over-pruning at the DSv2 scan (or a
      // snapshot dir dropped by the parent-hop registration) moves the
      // count or a sum (the scanned<total require runs in-engine first)
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey = (SELECT min(l_partkey) FROM lineitem)""".stripMargin,
    "q189_zorder_auto_prune" ->
      // both z-clustered point slices replayed from RAW lineitem: a
      // lost file on either pruned dimension changes a count or sum
      """SELECT 'part' AS dim, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey = (SELECT min(l_partkey) FROM lineitem)
        |UNION ALL
        |SELECT 'supp' AS dim, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey = (SELECT min(l_suppkey) FROM lineitem)
        |ORDER BY dim""".stripMargin,
    "q167_theta_overlap" -> thetaOverlapOracle,
    // the streamed build must land on the identical exact answer
    "q170_stream_theta_overlap" -> thetaOverlapOracle,
    // planted construction: evens always accepted; odds only without an
    // even twin in the table (see q171 scaladoc)
    "q171_stream_crawl_dedup" ->
      """SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT a.doc_id FROM documents a
        |LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
        |WHERE a.doc_id % 2 = 1 AND b.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin,
    "q172_stream_hll_users" ->
      // exact distinct + constant est-ok flag (q163 discipline): the
      // Spark side computes users_est_ok from |HLL est - exact| <= 5%,
      // so a lost drain flips it and hash-mismatches
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS users_est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q144_hll_distinct" ->
      // q172's band discipline on the one-shot daily-rollup path —
      // a lost/double-unioned day blows the 5% band
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS users_est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q174_sql_hll" ->
      // the same band discipline on the pure-SQL sketch surface
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS users_est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_ngram_jaccard" ->
      // full string-level replay (r9 flip): every stage of the DF-guarded
      // inverted-index join is deterministic SQL, and xxhash64'd shingles
      // share equality structure with shingle STRINGS (64-bit
      // collision-free at corpus scale — the q175 argument), so DuckDB
      // replays candidates, guard, co-occurrence counts and the exact
      // rational jaccard division bit-for-bit
      s"""WITH t AS (
         |  SELECT doc_id, $splitToks AS toks FROM documents),
         |e AS (SELECT doc_id,
         |        unnest(range(0, greatest(len(toks) - 2, 0))) AS i, toks
         |      FROM t),
         |sh AS (SELECT DISTINCT doc_id,
         |         array_to_string(toks[i+1 : i+3], ' ') AS shingle
         |       FROM e),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle
         |         HAVING COUNT(*) <= 1000),
         |idx AS (SELECT sh.doc_id, sh.shingle FROM sh
         |        JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |  FROM idx a JOIN idx b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b,
         |  CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common)
         |    AS jaccard
         |FROM common c JOIN sizes sa ON sa.doc_id = c.id_a
         |JOIN sizes sb ON sb.doc_id = c.id_b
         |WHERE CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common)
         |  >= 0.2""".stripMargin,
    "q177_planted_docpipeline" ->
      // planted construction: the composition's survivors are exactly
      // the even ids (min-id keeper over {2k, 2k+1} twin clusters);
      // doc_id < 1000 mirrors the Spark side's PlantedCap prefix
      """SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |  AND doc_id < 1000
        |ORDER BY doc_id""".stripMargin,
    "q178_repetition_segments" ->
      // full replay of the planted-segment construction: literal
      // replace has identical left-to-right semantics in both engines,
      // ppm floor-division on non-negatives matches Java long division
      """WITH base AS (
        |  SELECT doc_id,
        |    replace(text, ' ', chr(10)) AS lt,
        |    replace(text, ' value ', chr(10)||chr(10)) AS pt
        |  FROM documents),
        |lseg AS (
        |  SELECT doc_id, seg FROM (
        |    SELECT doc_id, unnest(string_split(lt, chr(10))) AS seg
        |    FROM base)
        |  WHERE length(seg) > 0),
        |lc AS (SELECT doc_id, seg, count(*) AS c FROM lseg
        |       GROUP BY doc_id, seg),
        |la AS (SELECT doc_id, sum(c - 1) AS dn, sum(c) AS tn,
        |         sum((c - 1) * length(seg)) AS dch,
        |         sum(c * length(seg)) AS tch
        |       FROM lc GROUP BY doc_id),
        |pseg AS (
        |  SELECT doc_id, seg FROM (
        |    SELECT doc_id, unnest(string_split(pt, chr(10)||chr(10))) AS seg
        |    FROM base)
        |  WHERE length(seg) > 0),
        |pc AS (SELECT doc_id, seg, count(*) AS c FROM pseg
        |       GROUP BY doc_id, seg),
        |pa AS (SELECT doc_id, sum(c - 1) AS dn, sum(c) AS tn,
        |         sum((c - 1) * length(seg)) AS dch,
        |         sum(c * length(seg)) AS tch
        |       FROM pc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(la.dn * 1000000 // la.tn AS BIGINT) AS dup_line_ppm,
        |  CAST(la.dch * 1000000 // la.tch AS BIGINT) AS dup_line_char_ppm,
        |  CAST(pa.dn * 1000000 // pa.tn AS BIGINT) AS dup_para_ppm,
        |  CAST(pa.dch * 1000000 // pa.tch AS BIGINT) AS dup_para_char_ppm
        |FROM documents d
        |LEFT JOIN la ON la.doc_id = d.doc_id
        |LEFT JOIN pa ON pa.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q179_top_ngrams" ->
      // per-n argmax on (count, token-chars): grams tied on BOTH keys
      // give the same ppm whichever wins, so the QUALIFY pick is
      // output-deterministic; token chars of a gram = length - (n-1)
      """WITH tt AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> length(x) > 0) AS toks,
        |    list_sum(list_transform(
        |      list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> length(x) > 0), x -> length(x))) AS tch
        |  FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(
        |         generate_series(1, greatest(len(toks) - 1, 0)),
        |         i -> toks[i] || ' ' || toks[i+1])) AS g FROM tt),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
        |b2 AS (SELECT doc_id, c * (length(g) - 1) AS num FROM c2
        |       QUALIFY row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, length(g) DESC) = 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(
        |         generate_series(1, greatest(len(toks) - 2, 0)),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        |       FROM tt),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
        |b3 AS (SELECT doc_id, c * (length(g) - 2) AS num FROM c3
        |       QUALIFY row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, length(g) DESC) = 1),
        |g4 AS (SELECT doc_id, unnest(list_transform(
        |         generate_series(1, greatest(len(toks) - 3, 0)),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |           || ' ' || toks[i+3])) AS g FROM tt),
        |c4 AS (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY doc_id, g),
        |b4 AS (SELECT doc_id, c * (length(g) - 3) AS num FROM c4
        |       QUALIFY row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, length(g) DESC) = 1)
        |SELECT tt.doc_id,
        |  CASE WHEN tt.tch IS NULL OR tt.tch = 0 THEN NULL
        |    ELSE CAST(coalesce(b2.num, 0) * 1000000 // tt.tch AS BIGINT)
        |    END AS top2_ppm,
        |  CASE WHEN tt.tch IS NULL OR tt.tch = 0 THEN NULL
        |    ELSE CAST(coalesce(b3.num, 0) * 1000000 // tt.tch AS BIGINT)
        |    END AS top3_ppm,
        |  CASE WHEN tt.tch IS NULL OR tt.tch = 0 THEN NULL
        |    ELSE CAST(coalesce(b4.num, 0) * 1000000 // tt.tch AS BIGINT)
        |    END AS top4_ppm
        |FROM tt
        |LEFT JOIN b2 USING (doc_id)
        |LEFT JOIN b3 USING (doc_id)
        |LEFT JOIN b4 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q180_dup_ngrams" ->
      // coverage replay: positions under any gram with count >= 2,
      // deduplicated, char-weighted; the prefix echo plants nonzero
      // coverage (the raw corpus has no repeated 5-grams)
      """WITH base AS (
        |  SELECT doc_id, text || ' ' || substr(text, 1, 97) AS t2
        |  FROM documents),
        |tt AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(t2, '\s+'),
        |      x -> length(x) > 0) AS toks,
        |    list_sum(list_transform(
        |      list_filter(regexp_split_to_array(t2, '\s+'),
        |        x -> length(x) > 0), x -> length(x))) AS tch
        |  FROM base),
        |i5 AS (SELECT doc_id,
        |         unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
        |       FROM tt),
        |gg5 AS (SELECT i5.doc_id, i5.i,
        |          array_to_string(tt.toks[i5.i : i5.i + 4], ' ') AS g
        |        FROM i5 JOIN tt ON tt.doc_id = i5.doc_id),
        |c5 AS (SELECT doc_id, g, count(*) AS c FROM gg5 GROUP BY doc_id, g),
        |cov5 AS (SELECT DISTINCT doc_id, pos FROM (
        |    SELECT gg5.doc_id, unnest(generate_series(gg5.i, gg5.i + 4)) AS pos
        |    FROM gg5 JOIN c5 ON c5.doc_id = gg5.doc_id AND c5.g = gg5.g
        |    WHERE c5.c >= 2)),
        |d5 AS (SELECT cov5.doc_id, sum(length(tt.toks[cov5.pos])) AS dch
        |       FROM cov5 JOIN tt ON tt.doc_id = cov5.doc_id
        |       GROUP BY cov5.doc_id),
        |i8 AS (SELECT doc_id,
        |         unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
        |       FROM tt),
        |gg8 AS (SELECT i8.doc_id, i8.i,
        |          array_to_string(tt.toks[i8.i : i8.i + 7], ' ') AS g
        |        FROM i8 JOIN tt ON tt.doc_id = i8.doc_id),
        |c8 AS (SELECT doc_id, g, count(*) AS c FROM gg8 GROUP BY doc_id, g),
        |cov8 AS (SELECT DISTINCT doc_id, pos FROM (
        |    SELECT gg8.doc_id, unnest(generate_series(gg8.i, gg8.i + 7)) AS pos
        |    FROM gg8 JOIN c8 ON c8.doc_id = gg8.doc_id AND c8.g = gg8.g
        |    WHERE c8.c >= 2)),
        |d8 AS (SELECT cov8.doc_id, sum(length(tt.toks[cov8.pos])) AS dch
        |       FROM cov8 JOIN tt ON tt.doc_id = cov8.doc_id
        |       GROUP BY cov8.doc_id)
        |SELECT tt.doc_id,
        |  CASE WHEN tt.tch IS NULL OR tt.tch = 0 THEN NULL
        |    ELSE CAST(coalesce(d5.dch, 0) * 1000000 // tt.tch AS BIGINT)
        |    END AS dup5_ppm,
        |  CASE WHEN tt.tch IS NULL OR tt.tch = 0 THEN NULL
        |    ELSE CAST(coalesce(d8.dch, 0) * 1000000 // tt.tch AS BIGINT)
        |    END AS dup8_ppm
        |FROM tt
        |LEFT JOIN d5 USING (doc_id)
        |LEFT JOIN d8 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q181_gopher_fused" -> q181OracleSql,
    "q182_gopher_quality" ->
      // full replay of the planted construction + all seven signals:
      // literal replace, code-point length, non-overlapping '...'
      // counting via replace-arithmetic, ASCII-alpha regex, literal
      // prefix/suffix tests — each primitive engine-portable
      """WITH pl AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(text,
        |      ' agg ', ' and '),
        |      ' key ', ' # '),
        |      ' data ', '...'||chr(10)),
        |      ' value ', chr(10)||'• '),
        |      ' table ', chr(10)) AS t
        |  FROM documents),
        |tt AS (
        |  SELECT doc_id, t,
        |    list_filter(regexp_split_to_array(t, '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM pl),
        |w AS (
        |  SELECT doc_id,
        |    len(toks) AS nw,
        |    coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS tch,
        |    len(list_filter(toks,
        |      x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
        |    len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      rw -> list_contains(
        |        list_transform(toks, x -> lower(x)), rw))) AS req,
        |    (length(t) - length(replace(t, '#', '')))
        |      + (length(t) - length(replace(t, '...', ''))) // 3
        |      + (length(t) - length(replace(t, chr(8230), ''))) AS sym
        |  FROM tt),
        |lf AS (
        |  SELECT doc_id,
        |    len(lines) AS nl,
        |    len(list_filter(lines, x ->
        |      starts_with(x, chr(8226)) OR starts_with(x, chr(8227))
        |      OR starts_with(x, chr(9642)) OR starts_with(x, '-')
        |      OR starts_with(x, '*'))) AS bul,
        |    len(list_filter(lines, x ->
        |      ends_with(x, '...') OR ends_with(x, chr(8230)))) AS ell
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split(t, chr(10)),
        |        x -> length(x) > 0) AS lines
        |    FROM pl))
        |SELECT w.doc_id,
        |  CAST(nw AS BIGINT) AS n_words,
        |  CASE WHEN nw = 0 THEN NULL
        |    ELSE CAST(tch * 1000000 // nw AS BIGINT) END AS word_len_ppm,
        |  CASE WHEN nw = 0 THEN NULL
        |    ELSE CAST(sym * 1000000 // nw AS BIGINT) END AS symbol_ppm,
        |  CASE WHEN nw = 0 THEN NULL
        |    ELSE CAST(alpha * 1000000 // nw AS BIGINT) END AS alpha_word_ppm,
        |  CASE WHEN nl = 0 THEN NULL
        |    ELSE CAST(bul * 1000000 // nl AS BIGINT) END AS bullet_line_ppm,
        |  CASE WHEN nl = 0 THEN NULL
        |    ELSE CAST(ell * 1000000 // nl AS BIGINT) END AS ellipsis_line_ppm,
        |  CAST(req AS BIGINT) AS required_hits
        |FROM w JOIN lf USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    "q176_planted_simhash" ->
      // planted construction: twins (2k, 2k+1) share exact text, so the
      // accepted set is exactly the twin pairs at hamming 0 (pigeonhole
      // makes banding exact at maxHamming < bands; see the scaladoc);
      // doc_id < 1000 mirrors the Spark side's PlantedCap prefix
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND b.doc_id < 1000
        |ORDER BY id_a""".stripMargin,
    "q184_minhash_band_classes" ->
      // every doc shares each of its 8 band buckets with exactly its
      // planted base's members (twins), per the construction scaladoc
      """WITH docs AS (
        |  SELECT doc_id, doc_id - doc_id % 2 AS base FROM documents
        |  WHERE doc_id < 1000),
        |sizes AS (SELECT base, COUNT(*) AS bucket_size FROM docs
        |          GROUP BY base)
        |SELECT d.doc_id, CAST(b.band AS INTEGER) AS band, s.bucket_size
        |FROM docs d JOIN sizes s USING (base)
        |CROSS JOIN (SELECT UNNEST(range(8)) AS band) b
        |ORDER BY d.doc_id, band""".stripMargin,
    "q185_simhash_sig_classes" ->
      // signature-equality classes == planted twin classes
      """WITH docs AS (
        |  SELECT doc_id, doc_id - doc_id % 2 AS base FROM documents
        |  WHERE doc_id < 1000),
        |sizes AS (SELECT base, COUNT(*) AS dup_group_size FROM docs
        |          GROUP BY base)
        |SELECT d.doc_id, s.dup_group_size
        |FROM docs d JOIN sizes s USING (base)
        |ORDER BY d.doc_id""".stripMargin,
    "q175_fingerprint_classes" ->
      // equality-class replay: fingerprint groups must coincide with
      // normalized-token-text groups (collision-free by 64-bit scale)
      s"""WITH n AS (
         |  SELECT doc_id, array_to_string($splitToks, ' ') AS norm
         |  FROM documents),
         |g AS (SELECT norm, COUNT(*) AS dup_group_size FROM n
         |      GROUP BY norm)
         |SELECT n.doc_id, g.dup_group_size
         |FROM n JOIN g USING (norm) ORDER BY doc_id""".stripMargin,
    "q173_stream_cms_heavyhitters" ->
      // q153's exact-count oracle: collision-free by construction, and
      // a double-landed drain DOUBLES CMS counts — hash-mismatch
      """SELECT term, count(*) AS occurrences FROM (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS term
        |  FROM documents)
        |WHERE len(term) >= 1
        |GROUP BY term ORDER BY occurrences DESC, term LIMIT 20"""
        .stripMargin,
    "q163_incremental_refresh" ->
      // full-history recompute: the incremental merge's exact measures
      // must match bit-for-bit; users_est_ok=1 is binding because the
      // Spark side computes it from |HLL estimate - exact| <= 5%
      """SELECT CAST(ts AS DATE) AS event_date,
        |  COUNT(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  MIN(value) AS value_min,
        |  MAX(value) AS value_max,
        |  CAST(1 AS BIGINT) AS users_est_ok
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q145_stats_pruned" ->
      // computed from the RAW table: proves the index path changed
      // nothing while reading fewer files
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 5000.0
        |GROUP BY 1""".stripMargin,
    "q141_orc_roundtrip" ->
      // the oracle aggregates the ORIGINAL parquet — if the ORC
      // round-trip loses anything, the hashes diverge
      """SELECT lang, source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_text_len,
        |  MIN(doc_id) AS min_id,
        |  MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q82_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |  FROM toks),
        |sh AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx),
        |tr AS (SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 50 <> 0),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0)
        |SELECT tr.doc_id, COUNT(*) AS n_shared
        |FROM tr JOIN ev USING (g) GROUP BY 1""".stripMargin,
    "q81_bpe_tokens" -> {
      // the contraction alternative starts with an apostrophe — double
      // it for the SQL string literal
      val pat = TextFunctions.bpeSegmentPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS n_tokens_ws,
         |  CAST(len(regexp_extract_all(text, '$pat')) AS INTEGER) AS n_tokens_bpe
         |FROM documents""".stripMargin
    },
    "q79_redact" -> {
      // DuckDB string literals keep backslashes verbatim — interpolate
      // the shared pattern text unchanged (same regex on both engines)
      val url = TextFunctions.urlPattern
      val email = TextFunctions.emailPattern
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '$url', '<URL>', 'g'),
         |    '$email', '<EMAIL>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(text, '$url'))
         |    + len(regexp_extract_all(
         |        regexp_replace(text, '$url', '<URL>', 'g'), '$email'))
         |    AS INTEGER) AS n_redacted
         |FROM documents""".stripMargin
    },
    "q80_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
        |FROM c""".stripMargin,
    "q78_group_centroids" ->
      """WITH x AS (
        |  SELECT vec_id % 8 AS grp,
        |         generate_subscripts(embedding, 1) - 1 AS pos,
        |         unnest(CAST(embedding AS DOUBLE[])) AS e
        |  FROM embeddings)
        |SELECT grp, pos,
        |  ROUND(CAST(SUM(CAST(e AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS c
        |FROM x GROUP BY 1, 2""".stripMargin,
    // All docs share the min-id doc's text, so the guarded near-dup join
    // must return exactly the representative star at jaccard 1.0 — the
    // construction makes an xxhash64 operator plain-SQL-checkable.
    "q73_skew_neardup" ->
      // doc_id < 1000 mirrors the Spark side's PlantedCap prefix
      """WITH c AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
        |m AS (SELECT min(doc_id) AS mid FROM c)
        |SELECT m.mid AS id_a, d.doc_id AS id_b,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |FROM c d, m WHERE d.doc_id <> m.mid""".stripMargin,
    // planted-pair constructions (see plantedText): the expected pair
    // set depends only on the id set, so the oracle is a plain join
    "q74_sql_neardup" ->
      // doc_id < 1000 mirrors the Spark side's PlantedCap prefix
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND b.doc_id < 1000""".stripMargin,
    "q86_incremental_neardup" ->
      """SELECT a.doc_id AS new_id, b.doc_id AS old_id,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 10 = 0""".stripMargin,
    "q20_token_stats" ->
      s"""SELECT doc_id,
         | CAST(len($splitToks) AS INTEGER) AS n_tokens,
         | CAST(len(list_distinct($splitToks)) AS INTEGER) AS n_uniq,
         | CAST(length(text) - (len($splitToks) - 1) AS DOUBLE) / len($splitToks) AS avg_token_len
         |FROM documents""".stripMargin,
    "q21_text_quality" ->
      s"""SELECT doc_id,
         | CAST(len(list_distinct($splitToks)) AS DOUBLE) / len($splitToks) AS uniq_ratio,
         | CAST(len(list_filter($splitToks, t -> t IN ('the','a'))) AS DOUBLE) / len($splitToks) AS stop_ratio,
         | (CAST(len(list_distinct($splitToks)) AS DOUBLE) / len($splitToks)
         |  + (1.0 - CAST(len(list_filter($splitToks, t -> t IN ('the','a'))) AS DOUBLE) / len($splitToks))
         |  + least(1.0, CAST(len($splitToks) AS DOUBLE) / 100.0)) / 3.0 AS quality
         |FROM documents""".stripMargin,
    "q22_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    "q23_langid" ->
      s"""WITH scored AS (
         | SELECT doc_id, lang,
         |  len(list_intersect(list_distinct($splitToks), ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
         |  len(list_intersect(list_distinct($splitToks), ['el','la','de','que','y','en','un','una','los','es'])) AS s_es,
         |  len(list_intersect(list_distinct($splitToks), ['der','die','das','und','ist','ein','eine','zu','den','nicht'])) AS s_de,
         |  len(list_intersect(list_distinct($splitToks), ['le','la','les','de','et','un','une','est','que','pour'])) AS s_fr,
         |  len(list_intersect(list_distinct($splitToks), ['的','是','了','在','我','有','和','不','人','这'])) AS s_zh
         | FROM documents)
         |SELECT doc_id, lang,
         | CASE WHEN s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_de > 0 THEN 'de'
         |      WHEN s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_en > 0 THEN 'en'
         |      WHEN s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_es > 0 THEN 'es'
         |      WHEN s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_fr > 0 THEN 'fr'
         |      WHEN s_zh = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_zh > 0 THEN 'zh'
         |      ELSE 'und' END AS predicted_lang
         |FROM scored""".stripMargin,
    "q24_fingerprint" ->
      s"""SELECT doc_id,
         | md5(array_to_string($splitToks, ' ')) AS fingerprint
         |FROM documents""".stripMargin,
    "q31_lsh_buckets" -> {
      val terms = bucketSql(graft.operators.Similarity.hyperplanes(8, 64),
        "CAST(embedding AS DOUBLE[])")
      s"SELECT vec_id, CAST($terms AS BIGINT) AS bucket FROM embeddings"
    },
    "q32_lsh_topk" -> lshTopkOracleSql,
    // identical semantics via the materialized bucket-partitioned index
    "q71_lsh_indexed" -> lshTopkOracleSql,
    "q125_multi_lsh" -> multiLshOracleSql,
    "q33_cosine_neardup" -> {
      // Candidate = the pair agrees in >= 1 of the 8 banded buckets;
      // verify = exact cosine >= threshold. Same plane slices per band as
      // Similarity.cosineNearDupPairs (bands=8, planesPerBand=8).
      val planes = graft.operators.Similarity.hyperplanes(64, 64)
      val bandCols = (0 until 8).map { b =>
        s"CAST(${bucketSql(planes.slice(b * 8, (b + 1) * 8), "e")} AS BIGINT) AS b$b"
      }.mkString(", ")
      val anyBand = (0 until 8).map(b => s"a.b$b = c.b$b").mkString(" OR ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, $bandCols FROM v)
         |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos
         |FROM b a JOIN b c ON a.vec_id < c.vec_id AND ($anyBand)
         |WHERE list_cosine_similarity(a.e, c.e) >= 0.2""".stripMargin
    },
    "q46_topk_join" -> {
      val terms = bucketSql(graft.operators.Similarity.hyperplanes(8, 64), "e")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, CAST($terms AS BIGINT) AS bucket FROM v),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |    list_cosine_similarity(q.e, c.e) AS raw
         |  FROM b q JOIN b c ON q.vec_id <> c.vec_id
         |    AND bit_count(xor(q.bucket, c.bucket)) <= 1),
         |r AS (
         |  SELECT query_id, corpus_id, raw, row_number()
         |    OVER (PARTITION BY query_id ORDER BY raw DESC, corpus_id) AS rn
         |  FROM p)
         |SELECT query_id, corpus_id, ROUND(raw, 6) AS cos FROM r WHERE rn <= 3""".stripMargin
    },
    "q30_cosine_topk" ->
      """SELECT vec_id, ROUND(list_cosine_similarity(
        |   CAST(embedding AS DOUBLE[]),
        |   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 20""".stripMargin,
    "q90_quantize_int8" ->
      // floor(x·127/m + 0.5) is the shared rounding contract (floor is
      // exact on doubles in both engines; round() is not)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v)
        |SELECT vec_id,
        |  array_to_string(list_transform(e, x -> CAST(CASE WHEN mx > 0
        |    THEN floor(x * 127 / mx + 0.5) ELSE 0 END AS BIGINT)), ',') AS q8_csv,
        |  CAST(floor(mx / 127 * 1000000000 + 0.5) AS BIGINT) AS scale_x1e9
        |FROM m""".stripMargin,
    "q91_quantized_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id, list_transform(e, x -> CASE WHEN mx > 0
        |  THEN floor(x * 127 / mx + 0.5) ELSE CAST(0 AS DOUBLE) END) AS qv FROM m)
        |SELECT vec_id, ROUND(list_cosine_similarity(qv,
        |   (SELECT qv FROM q WHERE vec_id = 0)), 6) AS cos
        |FROM q WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(qv,
        |   (SELECT qv FROM q WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 20""".stripMargin)
}
