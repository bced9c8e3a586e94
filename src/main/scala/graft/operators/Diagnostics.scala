package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Operability diagnostics — the queries an engine runs about ITSELF
  * before committing to a plan at 100 TB: key-skew censuses (is this
  * join key salt-worthy? — the measurement behind q57's salting
  * decision) and join-cardinality estimation (will this shuffle blow
  * up? — the stats a cost-based optimizer consumes). The reference has
  * no operability layer at all; these make the engine's scale
  * disciplines (salting, broadcast thresholds, AQE skew handling)
  * data-driven instead of guessed.
  */
object Diagnostics {

  /** q144 — join-key skew census over the three hot keys (lineitem.
    * l_orderkey, orders.o_custkey, events.user_id): the group-size
    * distribution in power-of-two bands, (col_name, band, n_keys,
    * n_rows) — band = ⌊log₂(group size)⌋ computed EXACTLY as
    * binary-digit count (`conv(·,10,2)` / `bin(·)` length — never
    * float log₂, whose 2.999… rounding at powers of two differs per
    * libm). A heavy band at the top is the signal that feeds the q57
    * salting path / AQE skew thresholds.
    *
    * Scale shape: one hash aggregate to the key-count relation per
    * column (map-side combinable), then a bands-sized second
    * aggregate — the census costs one shuffle per audited key and its
    * output is ~64 rows regardless of data size.
    */
  def q144SkewCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def census(df: DataFrame, key: String, name: String): DataFrame = {
      import df.sparkSession.implicits._
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
        .select(lit(name).as("col_name"),
          (length(conv($"cnt".cast("string"), 10, 2)) - 1).cast("long").as("band"),
          $"cnt")
        .groupBy($"col_name", $"band")
        .agg(count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"))
    }
    census(Tables.lineitem(spark, dir), "l_orderkey", "lineitem.l_orderkey")
      .unionByName(census(Tables.orders(spark, dir), "o_custkey",
        "orders.o_custkey"))
      .unionByName(census(Tables.events(spark, dir), "user_id",
        "events.user_id"))
      .orderBy($"col_name", $"band")
  }

  val q144Sql: String =
    """WITH src AS (
      |  SELECT 'lineitem.l_orderkey' AS col_name, l_orderkey AS k FROM lineitem
      |  UNION ALL SELECT 'orders.o_custkey', o_custkey FROM orders
      |  UNION ALL SELECT 'events.user_id', user_id FROM events),
      |c AS (SELECT col_name, k, CAST(count(*) AS BIGINT) AS cnt
      |      FROM src GROUP BY 1, 2)
      |SELECT col_name, CAST(length(bin(cnt)) - 1 AS BIGINT) AS band,
      |       count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows
      |FROM c GROUP BY 1, 2 ORDER BY col_name, band""".stripMargin

  /** q145 — join-cardinality estimation sandwich for the self-join on
    * `l_partkey` (the co-purchase blowup predictor): the EXACT output
    * size Σₖ cnt(k)² from the key-count relation, next to the
    * 256-bucket hash-histogram upper bound Σ_b (Σ_{k∈b} cntₖ)² — the
    * O(1)-state statistic a planner keeps per column. The bound is a
    * THEOREM (expanding the square: cross terms are non-negative), so
    * the emitted `ub_ge_exact` must be true on any input — a false
    * value means the bucketing lost rows and flips the driver hash —
    * and `ratio_bp` quantifies how loose 256 buckets are on this key
    * distribution (planner folklore: within ~2× on non-adversarial
    * keys; adversarial = many keys colliding into one bucket).
    *
    * Scale: the exact side costs one hash aggregate (|keys| rows);
    * the estimator side aggregates 256 rows of state — at 100 TB only
    * the estimator is kept fresh per partition/day and the exact pass
    * runs as a periodic calibration, the q42/q97 production/audit
    * cadence applied to optimizer statistics.
    */
  def q145JoinCardEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the exact, bucketed, and meta branches
    val exact = counts.agg(sum($"cnt").as("n_rows"),
      count(lit(1)).as("n_keys"), sum($"cnt" * $"cnt").as("exact_pairs"))
    val ub = counts
      .select(pmod(graft.functions.Md5Prefix60($"l_partkey".cast("string")),
        lit(256L)).as("b"), $"cnt")
      .groupBy($"b").agg(sum($"cnt").as("tb"))
      .agg(sum($"tb" * $"tb").as("bucket_ub"))
    exact.crossJoin(broadcast(ub))
      .select($"n_rows", $"n_keys", $"exact_pairs", $"bucket_ub",
        ($"bucket_ub" >= $"exact_pairs").as("ub_ge_exact"),
        expr("bucket_ub * 10000 div exact_pairs").as("ratio_bp"))
  }

  val q145Sql: String =
    """WITH c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
      |           FROM lineitem GROUP BY 1),
      |e AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
      |        CAST(count(*) AS BIGINT) AS n_keys,
      |        CAST(sum(cnt * cnt) AS BIGINT) AS exact_pairs FROM c),
      |b AS (SELECT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
      |               AS BIGINT) % 256 AS b, CAST(sum(cnt) AS BIGINT) AS tb
      |      FROM c GROUP BY 1),
      |u AS (SELECT CAST(sum(tb * tb) AS BIGINT) AS bucket_ub FROM b)
      |SELECT n_rows, n_keys, exact_pairs, bucket_ub,
      |       bucket_ub >= exact_pairs AS ub_ge_exact,
      |       bucket_ub * 10000 // exact_pairs AS ratio_bp
      |FROM e, u""".stripMargin

  /** q157 — chi-square independence audit of the (market segment ×
    * order priority) contingency table: the drift/dependence test a
    * data steward runs before trusting a stratified mix ("does priority
    * distribute independently of segment?"). The statistic is kept in
    * EXACT scaled-integer arithmetic so it can cross the hash gate: for
    * each cell, `dev = O·N − row·col` (the ×N-cross-multiplied O−E) and
    * `contrib_micro = dev²·10⁶ div (row·col·N)` — dev² is non-negative,
    * so Spark's truncating `div` and DuckDB's flooring `//` agree (the
    * q152 sign-split is unnecessary by construction). Expected counts
    * are emitted as exact milli-units (`row·col·10³ div N`). All
    * cross-products in DECIMAL(38,0)/HUGEINT: dev²·10⁶ reaches ~8e23
    * at sf0.1 — far past BIGINT (the q95 widen discipline).
    *
    * Scale shape: one hash aggregate to the |segments|·|priorities|
    * cell relation (map-side combinable), margins re-aggregated from
    * the TINY cell relation (localCheckpoint so the fact is scanned
    * once), broadcast back. Output is ~25 rows at any data size.
    */
  def q157ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"),
        $"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // tiny cell relation; feeds margins + cells
    val rowM = cells.groupBy($"segment").agg(sum($"o").as("row_n"))
    val colM = cells.groupBy($"priority").agg(sum($"o").as("col_n"))
    val tot = cells.agg(sum($"o").as("n"))
    cells.join(broadcast(rowM), "segment")
      .join(broadcast(colM), "priority")
      .crossJoin(broadcast(tot))
      .withColumn("dev",
        expr("CAST(o AS DECIMAL(38,0)) * n - CAST(row_n AS DECIMAL(38,0)) * col_n"))
      .select($"segment", $"priority", $"o",
        expr("CAST(CAST(row_n AS DECIMAL(38,0)) * col_n * 1000 div n AS BIGINT)")
          .as("e_milli"),
        expr("""CAST(dev * dev * 1000000
                     div (CAST(row_n AS DECIMAL(38,0)) * col_n * n) AS BIGINT)""")
          .as("contrib_micro"))
      .orderBy($"segment", $"priority")
  }

  val q157Sql: String =
    """WITH cells AS (
      |  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
      |         CAST(count(*) AS BIGINT) AS o
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |r AS (SELECT segment, CAST(sum(o) AS BIGINT) AS row_n
      |      FROM cells GROUP BY 1),
      |c2 AS (SELECT priority, CAST(sum(o) AS BIGINT) AS col_n
      |       FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |j AS (SELECT cells.segment, cells.priority, cells.o,
      |             r.row_n, c2.col_n, t.n,
      |             CAST(cells.o AS HUGEINT) * t.n
      |               - CAST(r.row_n AS HUGEINT) * c2.col_n AS dev
      |      FROM cells JOIN r ON cells.segment = r.segment
      |      JOIN c2 ON cells.priority = c2.priority, t)
      |SELECT segment, priority, o,
      |       CAST(CAST(row_n AS HUGEINT) * col_n * 1000 // n AS BIGINT)
      |         AS e_milli,
      |       CAST(dev * dev * 1000000
      |            // (CAST(row_n AS HUGEINT) * col_n * n) AS BIGINT)
      |         AS contrib_micro
      |FROM j ORDER BY segment, priority""".stripMargin

  /** q160 — per-column profiling census over `lineitem` (the
    * SUMMARIZE / dbt-profile primitive): one row per column carrying
    * (n_rows, n_null, n_distinct, min_v, max_v), with min/max
    * CANONICALIZED to BIGINT units per type (ids as-is, money in
    * cents, rates in basis points, quantities in micro-units, dates
    * as epoch days; free strings profile null extrema) so a single
    * uniform schema crosses the hash gate — no float or
    * engine-formatted string ever does.
    *
    * Scale shape: one aggregate PER COLUMN over a single-column
    * parquet scan (column pruning makes each pass read only its own
    * column's pages — ReadSchema is one field), each map-side
    * combinable, with single-column exact `count(DISTINCT)` planning
    * as a two-phase hash aggregate — never the multi-distinct Expand.
    * At 100 TB the production form fuses the passes with
    * `approx_count_distinct` (one scan, bounded state, the q42/q96
    * sketch tier); the exact per-column census is the calibration
    * tier, same cadence as q97.
    */
  def q160ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    def prof(name: String, canon: Option[String]): DataFrame = {
      val v = canon.map(expr).getOrElse(lit(null).cast("long"))
      li.select(col(name).as("raw"), v.as("v"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count($"raw")).as("n_null"),
          countDistinct($"raw").as("n_distinct"),
          min($"v").as("min_v"), max($"v").as("max_v"))
        .select(lit(name).as("col_name"), $"n_rows", $"n_null",
          $"n_distinct", $"min_v", $"max_v")
    }
    Seq(
      prof("l_orderkey", Some("l_orderkey")),
      prof("l_partkey", Some("l_partkey")),
      prof("l_suppkey", Some("l_suppkey")),
      prof("l_linenumber", Some("CAST(l_linenumber AS BIGINT)")),
      prof("l_quantity", Some("CAST(round(l_quantity * 1000000) AS BIGINT)")),
      prof("l_extendedprice", Some("CAST(round(l_extendedprice * 100) AS BIGINT)")),
      prof("l_discount", Some("CAST(round(l_discount * 10000) AS BIGINT)")),
      prof("l_tax", Some("CAST(round(l_tax * 10000) AS BIGINT)")),
      prof("l_returnflag", None),
      prof("l_linestatus", None),
      prof("l_shipdate",
        Some("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01') AS BIGINT)")))
      .reduce(_ unionByName _)
      .orderBy($"col_name")
  }

  val q160Sql: String = {
    def one(name: String, canon: Option[String]): String = {
      val v = canon.getOrElse("CAST(NULL AS BIGINT)")
      s"""SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($name) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $name) AS BIGINT) AS n_distinct,
         |  CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
         |FROM (SELECT $name, $v AS v FROM lineitem)""".stripMargin
    }
    Seq(
      one("l_orderkey", Some("l_orderkey")),
      one("l_partkey", Some("l_partkey")),
      one("l_suppkey", Some("l_suppkey")),
      one("l_linenumber", Some("CAST(l_linenumber AS BIGINT)")),
      one("l_quantity", Some("CAST(round(l_quantity * 1000000) AS BIGINT)")),
      one("l_extendedprice", Some("CAST(round(l_extendedprice * 100) AS BIGINT)")),
      one("l_discount", Some("CAST(round(l_discount * 10000) AS BIGINT)")),
      one("l_tax", Some("CAST(round(l_tax * 10000) AS BIGINT)")),
      one("l_returnflag", None),
      one("l_linestatus", None),
      one("l_shipdate",
        Some("CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)")))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** q169 — key-space gap census over `lineitem.l_orderkey` (orders
    * that never shipped a line — the dropped-data detector a pipeline
    * runs after every backfill): how many maximal runs of missing keys,
    * how many keys are missing in total, and the widest hole. The
    * classic gaps query is a lag() over the GLOBALLY sorted key set —
    * a single-partition sort at scale; here the same answer comes from
    * the distributed two-level form: within-bucket lags over
    * `k div 4096` partitions (parallel, each bucket sorts 4096 keys at
    * most) plus boundary gaps from the bucket-extrema relation (one
    * tiny window over the bucket dimension). The emitted
    * `conservation_ok` is the theorem span − n_keys = Σ missing — any
    * lost or double-counted gap flips it, and the driver hash gate
    * carries it.
    */
  def q169KeyGapCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gapCensus(Tables.lineitem(spark, dir).select($"l_orderkey".as("k")))
  }

  /** The distributed gap census behind q169, reusable over any BIGINT
    * key relation (column `k`, duplicates allowed). NOTES_r10 §20
    * measures this two-level form against the naive global-window lag
    * as the key count grows.
    */
  def gapCensus(keys: DataFrame): DataFrame = {
    import keys.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val ks = keys.select($"k").distinct()
      .withColumn("bkt", expr("k div 4096"))
      .localCheckpoint() // feeds inner gaps, extrema, and the census
    val wB = Window.partitionBy($"bkt").orderBy($"k")
    val inner = ks.withColumn("pk", lag($"k", 1).over(wB))
      .filter($"pk".isNotNull && $"k" - $"pk" > 1)
      .select(($"k" - $"pk" - 1).as("missing"))
    val ext = ks.groupBy($"bkt").agg(min($"k").as("mn"), max($"k").as("mx"))
    // bucket-dimension relation (|keys|/4096 rows): the only
    // unpartitioned window runs here, not over the key set
    val bound = ext.withColumn("pmx", lag($"mx", 1).over(Window.orderBy($"bkt")))
      .filter($"pmx".isNotNull && $"mn" - $"pmx" > 1)
      .select(($"mn" - $"pmx" - 1).as("missing"))
    val tot = ks.agg(count(lit(1)).as("n_keys"), min($"k").as("min_key"),
      max($"k").as("max_key"))
    inner.unionByName(bound)
      .agg(count(lit(1)).as("n_gaps"),
        coalesce(sum($"missing"), lit(0L)).as("n_missing"),
        coalesce(max($"missing"), lit(0L)).as("max_gap"))
      .crossJoin(broadcast(tot))
      .select($"n_keys", $"min_key", $"max_key", $"n_gaps", $"n_missing",
        $"max_gap",
        ($"max_key" - $"min_key" + 1 - $"n_keys" === $"n_missing")
          .as("conservation_ok"))
  }

  val q169Sql: String =
    """WITH k AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
      |g AS (SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM k),
      |gaps AS (SELECT k - pk - 1 AS missing FROM g
      |         WHERE pk IS NOT NULL AND k - pk > 1),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_gaps,
      |        COALESCE(CAST(sum(missing) AS BIGINT), 0) AS n_missing,
      |        COALESCE(CAST(max(missing) AS BIGINT), 0) AS max_gap
      |      FROM gaps),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |        CAST(min(k) AS BIGINT) AS min_key,
      |        CAST(max(k) AS BIGINT) AS max_key FROM k)
      |SELECT t.n_keys, t.min_key, t.max_key, a.n_gaps, a.n_missing, a.max_gap,
      |       t.max_key - t.min_key + 1 - t.n_keys = a.n_missing
      |         AS conservation_ok
      |FROM a, t""".stripMargin

  /** q200 — cross-partitioning determinism audit: the repo's exactness
    * thesis ("every declared aggregation is order-invariant integer
    * arithmetic, so results are bit-identical at ANY parallelism")
    * proven as a declared, hash-gated query. Three headline aggregates
    * over lineitem — revenue cents, row count, exact distinct orders —
    * are each computed TWICE under coprime repartitionings (7-way
    * round-robin vs 13-way hash), which force different task
    * boundaries, reduction trees, and row orders; the emitted
    * `identical` boolean is the audit. A float-sum variant of this
    * query could not exist: its boolean would itself be
    * nondeterministic — which is exactly why the engine freezes money
    * to cents before aggregating (documented at every operator; made
    * executable here). DuckDB computes each value once and TRUE
    * literals, so a Spark determinism regression flips the driver's
    * hash gate.
    *
    * Scale note: the repartitions exist to force disagreement and make
    * the audit meaningful; production consumers run the single-pass
    * form. Cost = two scans + two one-row aggregates.
    */
  def q200DeterminismAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def metrics(df: DataFrame, sfx: String): DataFrame =
      df.agg(
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as(s"revenue_cents_$sfx"),
        count(lit(1)).as(s"n_rows_$sfx"),
        countDistinct(col("l_orderkey")).as(s"n_orders_$sfx"))
    val li = Tables.lineitem(spark, dir)
    val a = metrics(li.repartition(7), "a")
    val b = metrics(li.repartition(13, $"l_partkey"), "b")
    a.crossJoin(broadcast(b))
      .selectExpr(
        """stack(3,
          |  'revenue_cents', revenue_cents_a, revenue_cents_b,
          |  'n_rows', n_rows_a, n_rows_b,
          |  'n_orders', n_orders_a, n_orders_b)
          |AS (metric, run_a, run_b)""".stripMargin)
      .withColumn("identical", $"run_a" === $"run_b")
      .orderBy($"metric")
  }

  val q200Sql: String =
    """WITH m AS (
      |  SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
      |                             * 100) AS BIGINT)) AS BIGINT)
      |           AS revenue_cents,
      |         CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |  FROM lineitem)
      |SELECT metric, run_a, run_b, TRUE AS identical FROM (
      |  SELECT 'revenue_cents' AS metric, revenue_cents AS run_a,
      |         revenue_cents AS run_b FROM m
      |  UNION ALL
      |  SELECT 'n_rows', n_rows, n_rows FROM m
      |  UNION ALL
      |  SELECT 'n_orders', n_orders, n_orders FROM m) z
      |ORDER BY metric""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_determinism_audit" -> (q200DeterminismAudit _),
    "q144_skew_census" -> (q144SkewCensus _),
    "q145_join_card_estimate" -> (q145JoinCardEstimate _),
    "q157_chi_square" -> (q157ChiSquare _),
    "q160_column_profile" -> (q160ColumnProfile _),
    "q169_key_gap_census" -> (q169KeyGapCensus _))

  val oracleSql: Map[String, String] = Map(
    "q200_determinism_audit" -> q200Sql,
    "q144_skew_census" -> q144Sql,
    "q145_join_card_estimate" -> q145Sql,
    "q157_chi_square" -> q157Sql,
    "q160_column_profile" -> q160Sql,
    "q169_key_gap_census" -> q169Sql)
}
