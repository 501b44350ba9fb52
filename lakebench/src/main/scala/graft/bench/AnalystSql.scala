package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.VersionedTable

/** The read path: one analyst runs a seeded rotation of SQL templates
  * through a `GraftProcedureCatalog` over a Gold star schema of
  * `VersionedTable`s. The fact has several snapshots (a base write, three
  * `INSERT INTO` appends and one `DELETE`) and a registered StatsPruning
  * stats table on its clustered key. Nothing is committed while timing. */
object AnalystSql {

  /** A tenth of the sf0.1 fixture's star schema (about 61 000 fact rows),
    * so that a run fits the benchmark's time budget. Per-query planning
    * and scheduling, not the scan, dominate a query at this scale and at
    * half sf0.1 alike. */
  val Sizes = Data.StarSizes(customers = Data.sf01.customers / 10,
    parts = Data.sf01.parts / 10, orders = Data.sf01.orders / 10)
  /** Literal sets per template. Rotation r runs every template once with
    * literal set r mod LiteralsPerTemplate, in a seeded order. */
  val LiteralsPerTemplate = 2
  /** Nominal seconds per rotation on a 4-core box; sizes the fixed op
    * sequence from --seconds. */
  val NominalRoundS = 3.0

  /** One (template, literal) combination; `literal` is the index of its
    * literal set, `rows` the size of the fact snapshot it addresses. */
  final case class Query(template: String, sql: String, rows: Long, literal: Int = 0)

  /** A built warehouse: where it lives, the catalog serving it and the
    * fact's snapshots. */
  final case class Warehouse(dir: String, catalog: String, fact: String,
      versions: Seq[Long], commitMs: Seq[Long], factRows: Map[Long, Long])

  /** Builds the Gold warehouse under `dir` and serves it as catalog
    * `catalog`. */
  def build(spark: SparkSession, seed: Long, dir: String, catalog: String): Warehouse = {
    val wh = s"$dir/wh"
    spark.conf.set(s"spark.sql.catalog.$catalog",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", wh)
    def dim(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t = s"$wh/gold/$name"
      VersionedTable.create(t, df.schema)
      VersionedTable.write(df.coalesce(1), t)
    }
    dim("dim_nation", Data.nation(spark))
    dim("dim_customer", Data.customer(spark, seed, Sizes))
    dim("dim_part", Data.part(spark, seed, Sizes))

    val fact = s"$wh/gold/fact_sales"
    val sales = Data.sales(spark, seed, Sizes)
    VersionedTable.create(fact, sales.schema)
    // clustered on the pruned key, so per-file min/max envelopes are narrow
    def clustered(df: org.apache.spark.sql.DataFrame, files: Int) =
      df.repartitionByRange(files, col("l_partkey")).sortWithinPartitions(col("l_partkey"))
    VersionedTable.write(clustered(sales.filter(col("l_orderkey") % 10 < 8), 8), fact)
    sales.createOrReplaceTempView("lakebench_sales_src")
    (8 until 10).foreach { b =>
      spark.sql(s"INSERT INTO $catalog.gold.fact_sales SELECT /*+ REPARTITION_BY_RANGE(2, l_partkey) */ * " +
        s"FROM lakebench_sales_src WHERE l_orderkey % 10 = $b")
    }
    // the DELETE matches rows of the last append only, so copy-on-write
    // rewrites that append's dir and the clustered base keeps its layout
    val deleted = col("l_orderkey") % 10 === 9 && col("l_returnflag") === "R"
    spark.sql(s"DELETE FROM $catalog.gold.fact_sales WHERE l_orderkey % 10 = 9 AND l_returnflag = 'R'")
    val statsDir = s"$dir/stats/fact_sales"
    graft.operators.FileIndex.statsForFiles(spark, VersionedTable.dataDirs(fact), Seq("l_partkey"))
      .write.parquet(statsDir)
    org.apache.spark.sql.graft.StatsPruning.register(spark, fact, statsDir)

    val hist = VersionedTable.history(spark, fact).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).sortBy(_._1).toSeq
    // rows per snapshot, from one pass over the source: the commits above
    // are base, +8, +9, minus the deleted rows
    val byBucket = sales.groupBy((col("l_orderkey") % 10).as("b"), deleted.as("del")).count()
      .collect().map(r => ((r.getLong(0), r.getBoolean(1)), r.getLong(2))).toMap.withDefaultValue(0L)
    def upTo(maxB: Long) = byBucket.collect { case ((b, _), n) if b <= maxB => n }.sum
    val commits = Seq(upTo(7), upTo(8), upTo(9),
      upTo(9) - byBucket.collect { case ((_, true), n) => n }.sum)
    val vs = hist.map(_._1)
    val rows = (vs.dropRight(commits.size).map(_ -> 0L) ++ vs.takeRight(commits.size).zip(commits)).toMap
    Warehouse(dir, catalog, fact, hist.map(_._1), hist.map(_._2), rows)
  }

  /** The seeded (template, literal) combinations: eight templates, each
    * with `LiteralsPerTemplate` literals drawn from the seed. */
  def queries(w: Warehouse, seed: Long): Seq[Query] = {
    val next = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    combinations(w, seed).map { q =>
      val i = next(q.template)
      next(q.template) = i + 1
      q.copy(literal = i)
    }
  }

  private def combinations(w: Warehouse, seed: Long): Seq[Query] = {
    val r = new scala.util.Random(seed)
    val c = w.catalog
    val f = s"$c.gold.fact_sales"
    val vs = w.versions
    val latest = w.factRows(vs.last)
    def draw[T](xs: Seq[T]): Seq[T] = r.shuffle(xs).take(LiteralsPerTemplate)
    val firstYear = java.time.LocalDate.parse(Data.FirstOrderDate).getYear
    val years = draw(firstYear to firstYear + 6)
    val parts = Seq.fill(LiteralsPerTemplate)(r.nextInt(Sizes.parts.toInt).toLong)
    val nations = draw(0 until 25)
    val oldVersions = Seq.fill(LiteralsPerTemplate)(vs(r.nextInt(vs.size - 1)))
    val prios = draw(Data.Priorities)
    val brands = Seq.fill(LiteralsPerTemplate)(s"Brand#${1 + r.nextInt(25)}")
    val discounts = Seq.fill(LiteralsPerTemplate)(r.nextInt(10))
    val sizes = Seq.fill(LiteralsPerTemplate)(1 + r.nextInt(40))
    // a point between two commits, so TIMESTAMP AS OF resolves to the
    // same snapshot on every run whatever the commit clock reads
    val tsPoints = Seq.fill(LiteralsPerTemplate)(r.nextInt(vs.size - 1)).map { i =>
      val ms = (w.commitMs(i) + w.commitMs(i + 1)) / 2
      vs(i) -> java.time.Instant.ofEpochMilli(ms).toString
    }
    years.map(y => Query("star_topk",
      s"""SELECT n.n_name, SUM(f.l_extendedprice * (1 - f.l_discount)) AS revenue
         |FROM $f f JOIN $c.gold.dim_customer cu ON f.o_custkey = cu.c_custkey
         |JOIN $c.gold.dim_nation n ON cu.c_nationkey = n.n_nationkey
         |WHERE year(f.o_orderdate) = $y
         |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name LIMIT 10""".stripMargin, latest)) ++
    parts.map(k => Query("point_agg",
      s"""SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, SUM(l_extendedprice) AS price
         |FROM $f WHERE l_partkey = $k""".stripMargin, latest)) ++
    nations.map(n => Query("window_rank",
      s"""SELECT yr, c_custkey, spend, rk FROM (
         |  SELECT yr, c_custkey, spend,
         |         RANK() OVER (PARTITION BY yr ORDER BY spend DESC, c_custkey) AS rk
         |  FROM (SELECT year(f.o_orderdate) AS yr, cu.c_custkey, SUM(f.l_extendedprice) AS spend
         |        FROM $f f JOIN $c.gold.dim_customer cu ON f.o_custkey = cu.c_custkey
         |        WHERE cu.c_nationkey = $n GROUP BY 1, 2))
         |WHERE rk <= 3""".stripMargin, latest)) ++
    oldVersions.zip(prios).map { case (v, p) => Query("version_as_of",
      s"""SELECT COUNT(*) AS n, SUM(l_extendedprice) AS price
         |FROM $f VERSION AS OF $v WHERE o_orderpriority = '$p'""".stripMargin,
      w.factRows(v)) } ++
    tsPoints.zip(discounts).map { case ((v, ts), d) => Query("timestamp_as_of",
      s"""SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty
         |FROM $f TIMESTAMP AS OF '$ts' WHERE l_discount >= 0.0$d
         |GROUP BY l_returnflag""".stripMargin, w.factRows(v)) } ++
    oldVersions.map(v => Query("history_tvf",
      s"""SELECT COUNT(*) AS n, MIN(version) AS lo, MAX(version) AS hi,
         |       SUM(CASE WHEN operation = 'append' THEN 1 ELSE 0 END) AS appends
         |FROM graft_history('${w.fact}') WHERE version >= $v""".stripMargin, latest)) ++
    draw(vs).map(v => Query("files_tvf",
      s"""SELECT data_version, COUNT(*) AS n_files
         |FROM graft_files('${w.fact}', $v) GROUP BY data_version""".stripMargin,
      w.factRows(v))) ++
    brands.zip(sizes).map { case (b, s) => Query("part_brand",
      s"""SELECT p.p_type, COUNT(*) AS n, SUM(f.l_quantity) AS qty
         |FROM $f f JOIN $c.gold.dim_part p ON f.l_partkey = p.p_partkey
         |WHERE p.p_brand = '$b' AND p.p_size BETWEEN $s AND ${s + 9}
         |GROUP BY p.p_type""".stripMargin, latest) }
  }

  def run(spark: SparkSession, args: Args, rec: RunRecord): Unit = {
    val wh = Harness.setUp(rec)(build(spark, args.seed, s"${args.work}/setup", "lb"))
    val qs = queries(wh, args.seed)
    def exec(q: Query): Array[org.apache.spark.sql.Row] = spark.sql(q.sql).collect()

    def rotation(r: Int): Seq[Query] = qs.filter(_.literal == r % LiteralsPerTemplate)

    // warm-up: one rotation per literal set, which computes the expected
    // result hash of every (template, literal)
    val expected = scala.collection.mutable.Map.empty[String, String]
    val tw = Harness.nowMs()
    Harness.warmUp(rec, LiteralsPerTemplate, LiteralsPerTemplate, () => Harness.clean(spark)) { r =>
      rotation(r).foreach(q => expected(q.sql) = Harness.resultHash(exec(q)))
    }
    rec.warmupS = (Harness.nowMs() - tw) / 1000.0

    val r = new scala.util.Random(args.seed ^ 0x5eedL)
    val rounds = math.max(3, math.round(args.seconds / NominalRoundS).toInt)
    val seq = (0 until rounds).flatMap(i => r.shuffle(rotation(i)))
    val ops = seq.map { q =>
      Op(q.template, q.rows, () => {
        val rows = exec(q)
        Tracer.outputRows(rows.length.toLong)
        Harness.resultHash(rows) == expected(q.sql)
      })
    }
    rec.context("templates") = qs.map(_.template).distinct
    rec.context("combos") = qs.size
    rec.context("rounds") = rounds
    rec.context("fact_versions") = wh.versions.size
    val tracer = Workloads.timed(spark, rec, ops, args.trace,
      cleanEvery = qs.size / LiteralsPerTemplate)
    tracer.foreach { t =>
      val files = VersionedTable.dataDirs(wh.fact).map(d => Harness.fileCount(new java.io.File(d.stripPrefix("file:")))).sum
      val scanned = (0 until ops.size).filter(i => seq(i).template == "point_agg").map { i =>
        t.plans(i).map(Workloads.filesPlanned).sum.toDouble
      }
      rec.layers("sqlgraft.files_in_snapshot") = files.toDouble
      rec.layers("sqlgraft.files_scanned") = if (scanned.isEmpty) 0.0 else Harness.median(scanned)
      rec.layers("pipeline.files_per_version") =
        files.toDouble / VersionedTable.dataDirs(wh.fact).size
      rec.layers("pipeline.versions_live") = wh.versions.size.toDouble
    }
  }
}
