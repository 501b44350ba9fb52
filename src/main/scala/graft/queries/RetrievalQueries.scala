package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bm25, Fusion}

/** Full-text retrieval surface: BM25 scoring (direct, index-probed, and
  * batched) plus reciprocal-rank fusion of heterogeneous rankings — the
  * lexical/serving half of the corpus stack, all under the DuckDB oracle
  * because the scores are exact-integer by construction (Bm25.scala's
  * rational-idf ppm form: no logarithms, no doubles, no engine drift).
  */
object RetrievalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The fixed probe query: one rare term ("dup", df≈5% — high idf) and
    * two common ones, so the ranking exercises both idf extremes. */
  private val probeTerms = Seq("dup", "join", "vector")

  /** q147: direct BM25 top-25 for the probe query over `documents`. */
  def q147Bm25(s: SparkSession, dir: String): DataFrame =
    Bm25.topK(t(s, dir, "documents"), "doc_id", "text", probeTerms, k = 25)

  /** q148: q147 against a MATERIALIZED term-bucket-partitioned postings
    * index — the probe reads only the query terms' buckets (partition
    * pruning), so cost tracks posting-list length, not corpus size.
    * Identical output and oracle to q147 by construction. */
  def q148Bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.once("bm25-index", dir) { p =>
      Bm25.writeIndex(t(s, dir, "documents"), "doc_id", "text", p)
      p
    }
    Bm25.topKIndexed(s, path, "doc_id", probeTerms, k = 25)
  }

  /** q154: the probe against a STREAM-maintained index — documents
    * drained through the exactly-once file-sink path (checkpoint =
    * bookmark, stateless per-row postings transform), then probed with
    * df computed from the same pruned posting scan that scoring reads.
    * Identical output and oracle to q147: the continuous-ingest index
    * must answer exactly like a batch rebuild. */
  def q154Bm25Streamed(s: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.once("bm25-stream", dir) { root =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.write.mode("append").parquet(s"$root/src")
      Bm25.indexIngestOnce(s, s"$root/src", docs.schema, s"$root/idx",
        s"$root/ckpt", "doc_id", "text")
      s"$root/idx"
    }
    Bm25.topKStreamed(s, path, "doc_id", probeTerms, k = 25)
  }

  /** The fixed 3-query batch for q149 (one row per distinct query term). */
  private val batchTerms: Seq[(Int, String)] = Seq(
    0 -> "dup", 0 -> "join",
    1 -> "vector", 1 -> "batch",
    2 -> "dup", 2 -> "window")

  /** q149: batched multi-query BM25 — 3 queries share ONE tokenize pass;
    * per-query top-10 via a query-partitioned window. */
  def q149Bm25Batch(s: SparkSession, dir: String): DataFrame = {
    val q = s.createDataFrame(batchTerms).toDF("query_id", "term")
    Bm25.topKBatch(t(s, dir, "documents"), "doc_id", "text", q, k = 10)
  }

  /** q150: hybrid retrieval by reciprocal-rank fusion — the q147 BM25
    * ranking fused with two corpus-quality priors (longest-document and
    * highest-lexical-diversity), each as a top-100 candidate list. The
    * fusion never touches the corpus: union + one hash-agg over ≤300
    * candidate rows regardless of corpus size. */
  def q150RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // top-100 via orderBy+limit FIRST (TakeOrderedAndProject — distributed
    // top-k, no global sort), then the single-partition rank window runs
    // over only those 100 rows regardless of corpus size.
    def ranked(df: DataFrame, order: Seq[org.apache.spark.sql.Column]) =
      df.orderBy(order: _*).limit(100)
        .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
        .select(col("doc_id"), col("rank"))
    val bm = ranked(
      Bm25.topK(docs, "doc_id", "text", probeTerms, k = 100),
      Seq(desc("score_ppm"), col("doc_id")))
    val longest = ranked(docs, Seq(desc("n_chars"), col("doc_id")))
    val diverse = ranked(
      docs.select(col("doc_id"),
        size(array_distinct(split(col("text"), "\\s+"))).as("__u")),
      Seq(desc("__u"), col("doc_id")))
    Fusion.reciprocalRank(Seq(bm, longest, diverse), "doc_id", k = 20)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_bm25" -> (q147Bm25 _),
    "q148_bm25_indexed" -> (q148Bm25Indexed _),
    "q149_bm25_batch" -> (q149Bm25Batch _),
    "q150_rrf_fusion" -> (q150RrfFusion _),
    "q154_bm25_streamed" -> (q154Bm25Streamed _))

  /** Shared oracle CTE: exact-integer BM25 postings/df/stats over
    * `documents` filtered to a term list, replaying Bm25.scorePpm's
    * DECIMAL(38,0) arithmetic in DuckDB HUGEINT (both exact at this
    * magnitude; all operands positive so floor = trunc division). */
  private def bm25Cte(termList: String): String =
    s"""post AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id,
       |           unnest(regexp_split_to_array(text, '\\s+')) AS term,
       |           len(regexp_split_to_array(text, '\\s+')) AS dl
       |    FROM documents)
       |  WHERE len(term) >= 1 AND term IN ($termList)
       |  GROUP BY doc_id, dl, term),
       |stats AS (
       |  SELECT count(DISTINCT doc_id) AS n,
       |         sum(len(regexp_split_to_array(text, '\\s+'))) AS l
       |  FROM documents),
       |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
       |scored AS (
       |  SELECT p.doc_id, p.term,
       |    (CAST(2*s.n - 2*d.df + 1 AS HUGEINT) * 22 * p.tf * s.l * 1000000)
       |    // (CAST(2*d.df + 1 AS HUGEINT)
       |        * (10 * CAST(s.l AS HUGEINT) * p.tf + 3 * s.l
       |           + 9 * CAST(p.dl AS HUGEINT) * s.n)) AS s_ppm
       |  FROM post p JOIN dfreq d USING (term) CROSS JOIN stats s)""".stripMargin

  private val probeList = probeTerms.map(t => s"'$t'").mkString(", ")

  private val bm25TopSql =
    s"""WITH ${bm25Cte(probeList)}
       |SELECT doc_id, count(*) AS matched,
       |       CAST(sum(s_ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT 25""".stripMargin

  private val batchValues =
    batchTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
  private val batchList =
    batchTerms.map(_._2).distinct.map(t => s"'$t'").mkString(", ")

  def oracles: Map[String, String] = Map(
    "q147_bm25" -> bm25TopSql,
    "q148_bm25_indexed" -> bm25TopSql,
    "q154_bm25_streamed" -> bm25TopSql,
    "q149_bm25_batch" ->
      s"""WITH q(query_id, term) AS (VALUES $batchValues),
         |${bm25Cte(batchList)},
         |g AS (
         |  SELECT q.query_id, sc.doc_id, count(*) AS matched,
         |         CAST(sum(sc.s_ppm) AS BIGINT) AS score_ppm
         |  FROM scored sc JOIN q ON sc.term = q.term
         |  GROUP BY q.query_id, sc.doc_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY score_ppm DESC, doc_id) AS rnk FROM g)
         |SELECT query_id, doc_id, matched, score_ppm FROM r
         |WHERE rnk <= 10 ORDER BY query_id, score_ppm DESC, doc_id""".stripMargin,
    "q150_rrf_fusion" ->
      s"""WITH ${bm25Cte(probeList)},
         |bm_g AS (
         |  SELECT doc_id, CAST(sum(s_ppm) AS BIGINT) AS score_ppm
         |  FROM scored GROUP BY doc_id
         |  ORDER BY score_ppm DESC, doc_id LIMIT 100),
         |bm AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score_ppm DESC, doc_id) AS rank FROM bm_g),
         |longest AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY n_chars DESC, doc_id) AS rank FROM documents
         |  QUALIFY rank <= 100),
         |diverse AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY len(list_distinct(regexp_split_to_array(text, '\\s+')))
         |      DESC, doc_id) AS rank
         |  FROM documents QUALIFY rank <= 100),
         |allr AS (
         |  SELECT * FROM bm UNION ALL SELECT * FROM longest
         |  UNION ALL SELECT * FROM diverse)
         |SELECT doc_id, count(*) AS n_systems,
         |       CAST(sum(1000000000 // (rank + 60)) AS BIGINT) AS rrf_ppb
         |FROM allr GROUP BY doc_id
         |ORDER BY rrf_ppb DESC, doc_id LIMIT 20""".stripMargin)
}
