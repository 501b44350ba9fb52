package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.{TextExpressionFunctions, VectorFunctions}

/** Public facade for the custom Catalyst vector expressions (implemented
  * under org.apache.spark.sql.graft, where the spark-private expression
  * APIs are accessible). */
object GraftFunctions {
  /** Codegen'd cosine similarity over two array<float|double> columns. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b)

  /** Codegen'd inner product over two array<float|double> columns. */
  def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  /** Codegen'd single-pass L2 normalization of an array<float|double>
    * column (zero vectors pass through). */
  def l2Normalize(vec: Column): Column = VectorFunctions.l2Normalize(vec)

  /** Codegen'd max(|x_i|) of an array<float|double> column (the symmetric
    * int8 dequantization scale is `maxAbs(v)/127`). */
  def maxAbs(vec: Column): Column = VectorFunctions.maxAbs(vec)

  /** Codegen'd symmetric per-vector int8 quantization
    * (q_i = floor(x_i·127/max|x| + 0.5); zero vector → zeros). */
  def quantizeInt8(vec: Column): Column = VectorFunctions.quantizeInt8(vec)

  /** [[quantizeInt8]] as dense BINARY (one byte per element) — the real
    * 4× parquet footprint (array<tinyint> elements store as INT32). */
  def quantizeInt8Binary(vec: Column): Column =
    VectorFunctions.quantizeInt8Binary(vec)

  /** Codegen'd cosine over two BINARY int8 vectors. */
  def cosineInt8(a: Column, b: Column): Column =
    VectorFunctions.cosineInt8(a, b)

  /** All banded sign-LSH buckets of a vector in one codegen'd loop over a
    * flat plane matrix (array<long> of length `bands`). */
  def lshBandBuckets(vec: Column, planes: Array[Double], bands: Int,
      planesPerBand: Int, dim: Int): Column =
    VectorFunctions.lshBandBuckets(vec, planes, bands, planesPerBand, dim)

  /** Nearest-centroid cell id (argmin of ||c||²−2·v·c, ties to the lower
    * id) over a flat k×subDim centroid matrix carried in the codegen
    * REFERENCES — one small generated loop whose source is identical
    * across k-means iterations, vs the unrolled per-centroid-literal
    * form that recompiled a fresh many-KB unit every iteration.
    * `offset` scores v[offset, offset+subDim) — the PQ subspace form. */
  def nearestCell(vec: Column, cells: Array[Double], k: Int, subDim: Int,
      offset: Int = 0): Column =
    VectorFunctions.nearestCell(vec, cells, k, subDim, offset)

  /** Codegen'd chained-xxhash64 fold over an array<string> column
    * (bit-identical to `aggregate(toks, 0L, (acc, t) => xxhash64(acc, t))`
    * without the interpreted lambda). */
  def rollingXxHash64(tokens: Column): Column =
    TextExpressionFunctions.rollingXxHash64(tokens)

  /** Codegen'd raw-DEFLATE compressed length of the UTF-8 text. */
  def deflateLength(text: Column): Column =
    TextExpressionFunctions.deflateLength(text)

  /** Codegen'd compression ratio in ppm (deflate_len·10^6 div utf8_len;
    * NULL for empty text) — the Gopher-family quality signal. */
  def compressionRatioPpm(text: Column): Column =
    TextExpressionFunctions.compressionRatioPpm(text)

  /** Codegen'd word n-gram shingles (space-joined) of a token array —
    * a per-row loop; no window, no interpreted HOF. Requires n >= 2. */
  def wordShingles(tokens: Column, n: Int): Column =
    TextExpressionFunctions.wordShingles(tokens, n)

  /** Codegen'd fixed-size token windows with stride (context-length
    * chunking; overlap = size − stride, partial tail kept, fully
    * overlapped tails suppressed). */
  def tokenChunks(tokens: Column, size: Int, stride: Int): Column =
    TextExpressionFunctions.tokenChunks(tokens, size, stride)

  /** Codegen'd Bloom membership probe over a long column (Spark's own
    * runtime-filter expression with a pre-built serialized filter). */
  def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    TextExpressionFunctions.mightContain(bloomBytes, value)

  /** Single-pass language ID over raw text (distinct profile-word counts
    * per language via bitmask popcount, alphabetical tie-break). */
  def languageId(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    TextExpressionFunctions.languageId(text, profiles)

  /** Single-pass token statistics: struct(n_tokens, n_uniq, n_stop) with
    * split(limit=-1) field semantics. */
  def tokenStats(text: Column, stopwords: Seq[String]): Column =
    TextExpressionFunctions.tokenStats(text, stopwords)

  /** Duplicate-segment fractions in ppm (struct of dup_ppm,
    * dup_char_ppm) — Gopher's duplicate-line (`sep = "\n"`) and
    * duplicate-paragraph (`sep = "\n\n"`) repetition signals. */
  def dupSegmentStatsPpm(text: Column, sep: String): Column =
    TextExpressionFunctions.dupSegmentStatsPpm(text, sep)

  /** Character share of the most frequent word n-gram, in ppm. */
  def topNgramCharPpm(text: Column, n: Int): Column =
    TextExpressionFunctions.topNgramCharPpm(text, n)

  /** Character share of word n-grams occurring at least twice, in
    * ppm (each position counted once). */
  def dupNgramCharPpm(text: Column, n: Int): Column =
    TextExpressionFunctions.dupNgramCharPpm(text, n)

  /** All thirteen Gopher repetition signals in one single-pass struct
    * (field-for-field equal to the standalone expressions, one
    * tokenization instead of thirteen). */
  def gopherRepetitionStats(text: Column): Column =
    TextExpressionFunctions.gopherRepetitionStats(text)

  /** All seven non-repetition Gopher quality signals in one
    * single-pass struct (word count, mean word length ppm, symbol
    * ratio ppm, alpha-word ppm, bullet/ellipsis line ppm, required
    * word hits). */
  def gopherQualityStats(text: Column): Column =
    TextExpressionFunctions.gopherQualityStats(text)

  /** Register `graft_cosine` / `graft_dot` with the session's SQL function
    * registry. */
  def register(spark: SparkSession): Unit = {
    VectorFunctions.register(spark)
  }
}
