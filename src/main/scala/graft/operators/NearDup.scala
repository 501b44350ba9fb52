package graft.operators

import graft.util.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ArrayFunctions, TextExpressionFunctions}

import graft.functions.TextFunctions

/** Near-duplicate detection: MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: the naive near-dup join is O(n²). Both LSH families here
  * reduce it to (1) signature construction as per-row codegen'd
  * expressions (MinHash: one sorted shingle-hash array per document and
  * k seeded minima over it, no explode and no exchange; higher-order-
  * function lambdas are interpreted in Spark, so per-seed `transform`
  * passes over shingle arrays are deliberately avoided), (2) a shuffle on
  * (band, band_hash) — a few bytes per row, never the document — and (3)
  * an equi self-join within buckets. MinHash candidate pairs are verified
  * with exact Jaccard by joining each pair to the two documents' sorted
  * shingle-hash arrays by id and intersecting them with one two-pointer
  * merge, so no shingle is ever exploded into its own row on the pair
  * path.
  */
object NearDup {

  /** Probability a pair with Jaccard similarity `s` becomes an LSH
    * candidate under (bands, rowsPerBand) banding: 1 − (1 − s^r)^b — the
    * curve LshRecallProps measures against. */
  def candidateProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Pick (bands, rowsPerBand) for a target similarity threshold within a
    * signature budget: among all b·r ≤ maxHashes, minimize the distance of
    * the banding's S-curve threshold (1/b)^(1/r) to the target (ties →
    * larger signature = sharper curve, then more rows per band = fewer
    * false candidates). This is how a caller sizes the banding before
    * paying for a corpus pass — at 100 TB, re-running with bad parameters
    * is the expensive mistake. */
  def lshParams(targetThreshold: Double, maxHashes: Int): (Int, Int) = {
    require(targetThreshold > 0 && targetThreshold < 1 && maxHashes >= 2,
      s"need 0 < threshold < 1 and maxHashes >= 2")
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
      if b * r >= 2
    } yield (b, r)
    candidates.minBy { case (b, r) =>
      val curveThreshold = math.pow(1.0 / b, 1.0 / r)
      (math.abs(curveThreshold - targetThreshold), -(b * r), -r)
    }
  }

  /** Word n-gram shingles of a token array (n=1 → token set). Column form,
    * for composing inside other expressions; corpus-scale paths use
    * [[shingleRows]] instead (HOF lambdas evaluate interpreted).
    * Shorter-than-n arrays yield an empty array — without the guard,
    * `sequence(0, size-n)` would count DOWN for them (the same degenerate
    * descending-sequence edge RangeJoin clamps) and emit garbage
    * shingles. */
  def shingles(toks: Column, n: Int): Column =
    if (n <= 1) toks
    else when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))

  /** (id, shingle) rows, built scan-side: the codegen'd WordShingles
    * expression assembles every n-gram inside the row's projection, so the
    * explode emits finished shingles with NO exchange — downstream per-doc
    * aggregations see explode-local rows and partial-combine map-side.
    * (The previous formulation assembled n-grams from window `lead`s over
    * (id, pos), which hash-shuffled and sorted every shingle row first.) */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val tok = TextFunctions.tokens(col(textCol))
    val sh = if (n <= 1) tok
      else graft.expressions.GraftFunctions.wordShingles(tok, n)
    df.select(col(idCol), explode(sh).as("shingle"))
  }

  /** (id, sh) rows — distinct shingle *hashes* per doc (set semantics).
    * Shingles are hashed to longs immediately after the explode: all
    * downstream joins/aggregations key on 8-byte longs instead of n-gram
    * strings, and set-dedup happens in a codegen'd hash aggregate (the
    * per-row `array_distinct` would be interpreted O(len²) string compares).
    * Duplicate rows are co-located at explode time, so partial aggregation
    * dedups map-side before any shuffle. */
  private[operators] def explodedShingles(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame =
    shingleRows(df, idCol, textCol, shingleSize)
      .select(col(idCol), xxhash64(col("shingle")).as("sh"))
      .distinct()

  /** (id, hs, sig), one row per input row: `hs` is the document's sorted,
    * distinct shingle-hash array (`xxhash64` of each word n-gram, the
    * values [[explodedShingles]] holds as rows) and `sig` its k seeded
    * minima (`xxhash64(seed, xxhash64(shingle))` — the k seeded values
    * derive from each shingle's one 8-byte hash, so every shingle string
    * is walked once). Both are codegen'd per-row expressions: no explode,
    * no exchange. `sig` is NULL when `hs` is empty (null text, or fewer
    * tokens than the shingle size). */
  private def minhashDocs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, k: Int): DataFrame =
    df.select(col(idCol), TextExpressionFunctions.shingleHashes(
        TextFunctions.tokens(col(textCol)), shingleSize).as("hs"))
      .select(col(idCol), col("hs"),
        TextExpressionFunctions.minHashSig(col("hs"), k).as("sig"))

  /** MinHash signature per document: k seeded xxhash64 minima over the
    * document's shingle hashes (see [[minhashDocs]]). Bit-identical to
    * the k × `min(xxhash64(seed, sh))` aggregate over the shingle stream
    * — a set-dedup never changes a minimum. Documents with null text or
    * fewer tokens than the shingle size produce no shingles and are
    * omitted.
    *
    * Ids must be unique: each input row is its own document, so two rows
    * sharing an id yield two signatures under that id (they are not
    * merged). Output: (idCol, sig: array<long>). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, k: Int): DataFrame =
    // explode of a zero- or one-element array, not a filter: a filter on
    // `sig` would be pushed below the projection and evaluate both
    // expressions twice per row; a generator's output is a barrier
    minhashDocs(df, idCol, textCol, shingleSize, k)
      .select(col(idCol),
        explode(when(col("sig").isNotNull, array(col("sig")))).as("sig"))

  /** Per-band bucket hashes of a minhash signature column, as an array:
    * element b hashes the b-th `rowsPerBand` slice of the signature. A
    * NULL signature yields a NULL array, so a posexplode over it emits
    * no band rows for a document without shingles. */
  private def bandHashArray(sig: Column, bands: Int, rowsPerBand: Int): Column =
    when(sig.isNotNull, array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        slice(sig, b * rowsPerBand + 1, rowsPerBand).cast("array<string>")))
    }: _*))

  /** doc_id, band, band_hash — one row per LSH band. Docs agreeing on all
    * `rowsPerBand` signature slots of any band land in the same bucket.
    * numHashes = bands * rowsPerBand. Same omission and unique-id
    * contract as [[minhashSignatures]]. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame =
    minhashDocs(df, idCol, textCol, shingleSize, bands * rowsPerBand)
      .select(col(idCol),
        posexplode(bandHashArray(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "band_hash")))

  /** Banded candidate generation with an oversized-cell guard: a cell of
    * B near-identical docs — the realistic duplicate-heavy-crawl case —
    * would emit B²/2 candidate pairs into one reducer from a naive
    * (band, bucket) self-join. Construction:
    *
    *  - cells at or below `maxBucketSize` join EXACTLY: rows keep their
    *    raw bucket value as the join key, and a pair is emitted at its
    *    first agreeing SMALL cell only (the earlier-band filter runs
    *    over per-doc arrays of ADJUSTED keys, so agreement inside an
    *    oversized cell never suppresses a later small-cell emission —
    *    that suppression was the hole that could silently drop a whole
    *    duplicate cluster when an oversized cell's minimum id happened
    *    to be a sub-threshold interloper);
    *  - oversized cells contribute a (cell-minimum, member) STAR from
    *    EVERY band they are oversized in — B−1 linear rows per cell
    *    that keep the cell connected for downstream components even if
    *    one band's representative fails verification, because another
    *    band's cell (without the interloper) still stars its members;
    *  - the adjusted key of an oversized-cell row is a per-doc hash, so
    *    those rows can never meet in the pair join at all — the
    *    quadratic stage is structurally absent, not just filtered;
    *  - the union is deduplicated once at the end: that distinct runs
    *    over the near-final candidate set (small-path pairs are already
    *    unique; stars are linear), NOT over the ×bands pre-dedup
    *    candidate stream the first-agreeing-band trick exists to avoid.
    *
    * Input: one row per (doc, band) with the cell id in `bucketCol`.
    * Output: unique (id_a < id_b) candidate pairs.
    *
    * `pinParallelism` repartitions the doc-id exchange to an explicit N
    * (below). An explicit-N repartition is safe only on a BOUNDED set:
    * it opts the exchange out of AQE's coalescing and skew handling, so
    * the input must be small per doc — here a few bands of longs per
    * document, never the document text or its shingles. */
  private[operators] def bandedCandidates(ids: DataFrame, idCol: String,
      bandCol: String, bucketCol: String, bands: Int,
      maxBucketSize: Int, pinParallelism: Boolean = true): DataFrame = {
    val stats = ids.groupBy(col(bandCol), col(bucketCol))
      .agg(count(lit(1)).as("__bn"), min(col(idCol)).as("__bmin"))
    val adj = ids.join(stats, Seq(bandCol, bucketCol))
      .withColumn("__k",
        when(col("__bn") <= maxBucketSize, col(bucketCol))
          .otherwise(xxhash64(lit("__graft_capped"), col(idCol),
            col(bandCol))))
    // Per-doc array of adjusted keys, attached in ONE pass: bands
    // max(when) aggregates over the same whole-partition window collapse
    // into a single WindowExec (one shuffle by doc id), where a
    // groupBy + join-back would cost two exchanges and a join for the
    // same rows (measured ~2x on the pairs family).
    //
    // `pinParallelism`: the doc-id exchange is pinned to the session's
    // configured shuffle parallelism (explicit-N repartition on the
    // SAME key the window needs — no extra exchange, it just opts this
    // one out of AQE coalescing). Everything downstream of the window —
    // the band self-join, candidate dedup and the caller's verify —
    // fuses into the window's whole-stage, so when the verify does
    // HEAVY per-pair work (minhash's sorted-set intersections are
    // O(|shingles|) per pair, cosine is O(dim)) AQE's byte-based
    // coalescing misjudges it badly: at sf0.1 a 1 MB exchange collapsed
    // q27's whole chain to ONE task of 1.1 s while 31 cores idled.
    // Callers whose verify is O(1) per pair (hamming: one bit_count)
    // pass false — there the stage really is bytes-proportional,
    // coalescing judges it correctly, and the pin was measured as a
    // pure ~0.1-0.3 s/query fan-out tax on the simhash/image/audio
    // family. At production shuffle sizes the exchange meets the
    // configured partition count either way.
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val fanned =
      if (pinParallelism)
        adj.repartition(
          ids.sparkSession.sessionState.conf.numShufflePartitions,
          col(idCol))
      else adj
    val rows = fanned
      .withColumn("__adj",
        array((0 until bands).map(j =>
          max(when(col(bandCol) === j, col("__k"))).over(byDoc)): _*))
    val small = rows.filter(col("__bn") <= maxBucketSize)
    val a = small.select(col(bandCol), col("__k"),
      col(idCol).as("id_a"), col("__adj").as("__adja"))
    val b = small.select(col(bandCol), col("__k"),
      col(idCol).as("id_b"), col("__adj").as("__adjb"))
    val joined0 = a.join(b, Seq(bandCol, "__k"))
      .filter(col("id_a") < col("id_b"))
    val joined = if (bands <= 1) joined0 else {
      val earlierSmallAgrees = (0 until bands - 1).map { j =>
        col(bandCol) > j &&
          col("__adja").getItem(j) === col("__adjb").getItem(j)
      }.reduce(_ || _)
      joined0.filter(!earlierSmallAgrees)
    }
    val stars = rows
      .filter(col("__bn") > maxBucketSize && col(idCol) =!= col("__bmin"))
      .select(col("__bmin").as("id_a"), col(idCol).as("id_b"))
    joined.select("id_a", "id_b").unionAll(stars).distinct()
  }

  /** Exact Jaccard for candidate pairs: each pair meets the two
    * documents' sorted, distinct shingle-hash arrays (`sets`: one
    * (id, hs) row per document) in two id joins, and the shared-shingle
    * count is the size of their two-pointer-merge intersection
    * ([[org.apache.spark.sql.graft.SortedLongIntersect]]). Pairs sharing
    * no shingle are dropped, as the inverted-index join of
    * [[minhashPairsSql]] never forms them. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame,
      idCol: String): DataFrame =
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("hs").as("__ha")),
        Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("hs").as("__hb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(ArrayFunctions.sortedIntersect(col("__ha"), col("__hb")))
          .cast("long").as("n_common"),
        size(col("__ha")).cast("long").as("n_a"),
        size(col("__hb")).cast("long").as("n_b"))
      .filter(col("n_common") > 0L)
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))

  /** Candidate pairs from shared LSH buckets, verified with exact Jaccard
    * over distinct shingle sets; keeps pairs with jaccard >= threshold.
    * Candidate generation is [[bandedCandidates]]: exact first-small-cell
    * pair semantics, representative stars for cells beyond
    * `maxBucketSize`. Documents with null text or fewer tokens than the
    * shingle size are omitted.
    *
    * Ids must be unique: each input row is its own document (a repeated
    * id is not merged into one shingle set; it pairs as two documents
    * under one id).
    * Output: id_a < id_b, jaccard. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    // ONE tokenize/shingle pass into one row per document: the sorted
    // shingle-hash set and the band hashes of the signature derived from
    // it (hashed once here, not once per consumer branch). Checkpointed:
    // the table feeds the band rows (both self-join sides, cell stats,
    // adjusted arrays) and both verify lookups; physical exchange reuse
    // does not survive the differing predicates each branch pushes down.
    val docs = minhashDocs(df, idCol, textCol, shingleSize,
        bands * rowsPerBand)
      .select(col(idCol), col("hs"),
        bandHashArray(col("sig"), bands, rowsPerBand).as("bh"))
      .ckpt()
    val ids = docs.select(col(idCol),
      posexplode(col("bh")).as(Seq("band", "band_hash")))
    val candidates = bandedCandidates(ids, idCol, "band", "band_hash",
      bands, maxBucketSize)
    verifyJaccard(candidates, docs, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** [[minhashPairs]] as PURE SQL TEXT over a registered `documents` view
    * — the reference's Athena discipline (SQL-over-catalog is the
    * interactive surface) applied to the extension operators, the same
    * way q69 expresses the as-of join in SQL. Requires
    * `GraftFunctions.register` (for `graft_shingles`); everything else is
    * built-in SQL (`xxhash64`, `posexplode`). Semantically identical to
    * the DataFrame operator — same shingling, seeded minima, band
    * hashing, oversized-bucket star guard, first-agreeing-band dedup and
    * exact Jaccard (counted here through the inverted index, there by
    * sorted-set intersection) — and cross-checked equal in
    * SqlNearDupSpec. */
  def minhashPairsSql(shingleSize: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucketSize: Int = 1000, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    val k = bands * rowsPerBand
    val mins = (0 until k)
      .map(s => s"min(xxhash64($s, sh)) AS h$s").mkString(",\n    ")
    val bandHashes = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand)
        .map(r => s"CAST(h${b * rowsPerBand + r} AS STRING)").mkString(", ")
      s"xxhash64(concat_ws(',', $slots))"
    }.mkString(",\n    ")
    val earlier =
      if (bands <= 1) "false"
      else (0 until bands - 1)
        .map(j => s"(a.band > $j AND a.adjv[$j] = b.adjv[$j])")
        .mkString(" OR ")
    // same one-pass window construction as bandedCandidates
    val adjWindow = (0 until bands).map(j =>
      s"max(CASE WHEN band = $j THEN k END) OVER (PARTITION BY doc_id)")
      .mkString(",\n      ")
    s"""WITH raw AS (
       |  SELECT $idCol AS doc_id,
       |    explode(graft_shingles(split($textCol, '\\\\s+'), $shingleSize)) AS shingle
       |  FROM $table
       |), ex AS (
       |  SELECT doc_id, xxhash64(shingle) AS sh FROM raw
       |), sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, array(
       |    $bandHashes) AS bhs
       |  FROM sig
       |), ids AS (
       |  SELECT doc_id, posexplode(bhs) AS (band, bh) FROM bands
       |), stats AS (
       |  SELECT band, bh, count(*) AS bn, min(doc_id) AS bmin
       |  FROM ids GROUP BY band, bh
       |), adj AS (
       |  SELECT i.doc_id, i.band, s.bn, s.bmin,
       |    CASE WHEN s.bn <= $maxBucketSize THEN i.bh
       |         ELSE xxhash64('__graft_capped', i.doc_id, i.band) END AS k
       |  FROM ids i JOIN stats s ON i.band = s.band AND i.bh = s.bh
       |), rws AS (
       |  SELECT doc_id, band, bn, bmin, k,
       |    array($adjWindow) AS adjv
       |  FROM adj
       |), small AS (
       |  SELECT * FROM rws WHERE bn <= $maxBucketSize
       |), cand0 AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM small a JOIN small b ON a.band = b.band AND a.k = b.k
       |  WHERE a.doc_id < b.doc_id AND NOT ($earlier)
       |), stars AS (
       |  SELECT bmin AS id_a, doc_id AS id_b
       |  FROM rws WHERE bn > $maxBucketSize AND doc_id <> bmin
       |), cand AS (
       |  SELECT DISTINCT id_a, id_b FROM
       |    (SELECT * FROM cand0 UNION ALL SELECT * FROM stars)
       |), exd AS (
       |  SELECT DISTINCT doc_id, sh FROM ex
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM exd GROUP BY doc_id
       |), common AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_common
       |  FROM cand c
       |  JOIN exd ea ON ea.doc_id = c.id_a
       |  JOIN exd eb ON eb.doc_id = c.id_b AND eb.sh = ea.sh
       |  GROUP BY c.id_a, c.id_b
       |)
       |SELECT c.id_a, c.id_b,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM common c
       |JOIN sizes sa ON sa.doc_id = c.id_a
       |JOIN sizes sb ON sb.doc_id = c.id_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $threshold""".stripMargin
  }

  /** SimHash: 64-bit signature where bit i is the sign of the sum over
    * tokens of (+1/-1 according to bit i of the token's hash). Near-dups
    * differ in few bits (small Hamming distance). Column form — prefer
    * [[simhashSignatures]] for corpus-scale use. */
  def simhash64(toks: Column): Column = {
    val hashed = transform(toks, t => xxhash64(t))
    (0 until 64).map { i =>
      val votes = aggregate(hashed, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L))
      when(votes > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  /** SimHash per document via explode + codegen'd hash-aggregate: 64
    * per-bit vote sums in one aggregation pass (token multiplicity counts,
    * matching [[simhash64]]). Output: (idCol, sig: long). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col(idCol), xxhash64(col("t")).as("h"))
    val voteCols = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i")
    }
    val votes = ex.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    votes.select(col(idCol),
      (0 until 64).map { i =>
        when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)
      }.reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** SimHash near-dup candidates: bucket by `bands` slices of the simhash
    * (docs equal on any slice are candidates), verify by Hamming distance
    * <= maxHamming. Candidate generation is [[bandedCandidates]] (exact
    * first-small-cell semantics + representative stars past
    * `maxBucketSize`); signatures meet the unique pairs again in id
    * equi-joins against the checkpointed signature table.
    * Output: id_a < id_b, hamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 8,
      maxBucketSize: Int = 1000): DataFrame =
    hammingPairs(simhashSignatures(df, idCol, textCol), idCol, "sig",
      bands, maxHamming, maxBucketSize)

  /** Hamming near-dup pairs over ANY 64-bit signature column (simhash,
    * image dHash, …): bucket by `bands` equal slices of the signature
    * (rows equal on any slice are candidates), verify by Hamming distance
    * <= maxHamming. When `maxHamming < bands` the result is EXACT by
    * pigeonhole — a pair within distance d < bands differs in at most d
    * slices, so at least one slice matches and banding cannot miss it
    * (the property the image near-dup oracle checks against a brute-force
    * self-join). Candidate generation is [[bandedCandidates]] (exact
    * first-small-cell semantics + representative stars past
    * `maxBucketSize`). Output: id_a < id_b, hamming (int). */
  def hammingPairs(signatures: DataFrame, idCol: String, sigCol: String,
      bands: Int = 4, maxHamming: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(64 % bands == 0, s"bands $bands must divide 64")
    val bits = 64 / bands
    def slice(sig: Column, b: Int): Column =
      shiftrightunsigned(sig, b * bits).bitwiseAND(lit((1L << bits) - 1))
    // one long per doc, several consumers — same checkpoint rationale as
    // minhashPairs
    val sigs = signatures.select(col(idCol), col(sigCol).as("sig"))
      .ckpt()
    val banded = sigs.select(col(idCol), posexplode(
      array((0 until bands).map(b => slice(col("sig"), b)): _*))
      .as(Seq("band", "band_val")))
    // pinParallelism = false: the hamming verify is one bit_count per
    // pair, so the fused stage IS bytes-proportional and AQE's
    // coalescing judges it correctly (see bandedCandidates)
    bandedCandidates(banded, idCol, "band", "band_val", bands, maxBucketSize,
      pinParallelism = false)
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("__sa")),
        Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("__sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity join (no LSH): meet candidate docs in
    * an inverted-index join on the shingle — avoids the n² cross join
    * because only docs sharing at least one indexable shingle ever meet.
    *
    * `maxDocFreq` is the scale guard: shingles present in more than that
    * many documents are dropped from the *index* (their posting lists would
    * dominate the join quadratically, and a shingle shared by everything
    * carries no near-dup signal). Candidate generation and the common-count
    * both use the guarded index, so similarity is Jaccard over the indexed
    * shingle space — exact when nothing exceeds the guard, conservative
    * (never inflated) when something does.
    * Output: id_a < id_b, jaccard >= threshold. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 1000): DataFrame =
    jaccardPairsOverTokens(
      shingleRows(df, idCol, textCol, shingleSize)
        .select(col(idCol), xxhash64(col("shingle")).as("sh")),
      idCol, threshold, maxDocFreq)

  /** The exact-Jaccard inverted-index join over ANY pre-tokenized
    * (id, sh: long) stream — the core of [[ngramJaccardPairs]], reused
    * wherever a set-of-long-tokens similarity is needed (video near-dup
    * joins on per-frame perceptual hashes through exactly this). Same
    * `maxDocFreq` guard, same one-pass co-occurrence count. */
  def jaccardPairsOverTokens(tokens: DataFrame, idCol: String,
      threshold: Double, maxDocFreq: Long,
      pinParallelism: Boolean = true): DataFrame = {
    // Repartition on the token hash BEFORE the set-dedup: hash
    // partitioning by sh satisfies the (id, sh) grouping distribution,
    // so the distinct adds no exchange. The result is CHECKPOINTED
    // (r17): exchange reuse between the df-guard branch and the
    // semi-join branch does not survive AQE's per-branch planning —
    // stage profiling showed the tokenize→explode→hash pipeline and
    // its exchange executing twice (two identical map stages per run).
    // One materialization of the 16-byte (id, sh) rows ends that.
    // `pinParallelism` (same rationale and caller contract as
    // bandedCandidates' window pin): the checkpointed index's partition
    // count IS the parallelism of the co-occurrence self-join map side,
    // and AQE's byte-based coalescing of this ~3 MB exchange was
    // capping q29 at 2 tasks while the join work is posting-list
    // fan-out, not bytes. Callers with tiny token sets and cheap
    // postings (video frame-hash sets) pass false.
    val base = tokens.select(col(idCol), col("sh"))
    val exploded =
      (if (pinParallelism)
        base.repartition(
          tokens.sparkSession.sessionState.conf.numShufflePartitions,
          col("sh"))
      else base.repartition(col("sh")))
      .distinct()
      .ckpt()
    val rare = exploded.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("sh")
    // `indexed` has three consumers (both co-occurrence sides + sizes);
    // checkpointing it makes the tokenize→shingle→distinct→df-guard
    // lineage run exactly once instead of per consumer.
    val indexed = exploded.join(rare, Seq("sh"), "left_semi")
      .ckpt()
    // One pass: the co-occurrence join itself yields the common-shingle
    // count per pair (map-side partial count), so candidate pairs are never
    // materialized separately and the index is never re-joined.
    val common = indexed.as("a").join(indexed.as("b"), Seq("sh"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = indexed.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    common
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
