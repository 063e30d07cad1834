package graft.queries

import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Scd2Spec
import graft.ops.{DateDimension, FactBuilder, Scd2Upsert, SurrogateKeys}
import Q._

/** SURVEY.md §2 operator inventory, one gate query per operator, mapped onto
  * the driver test tables (FIXTURES.md §B: orders+lineitem play
  * Orders+OrderDetails, customer/part/supplier play the SCD2 dim sources).
  * Each `fn` is the idiomatic Spark plan; each oracle is the semantically
  * equivalent DuckDB SQL.
  */
object ParityQueries {

  /** TPC-H-mapped SCD2 specs (the reference specs in [[graft.model.Schemas]]
    * keep the reference's own column names; these map the same op onto the
    * test tables). */
  val custSpec: Scd2Spec = Scd2Spec("dim_customer", "customerkey", "c_custkey",
    Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
  val partSpec: Scd2Spec = Scd2Spec("dim_part", "productkey", "p_partkey",
    Seq("p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
  val suppSpec: Scd2Spec = Scd2Spec("dim_supplier", "storekey", "s_suppkey",
    Seq("s_name", "s_nationkey", "s_acctbal"))

  val run1: Date = Date.valueOf("2024-01-01")
  val run2: Date = Date.valueOf("2024-06-01")

  private val scdCols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"

  /** Per-(session, sfDir) catalog root for the S2/F12 catalog-surface gates. */
  private val catalogRoots =
    new PerSession[String]

  /** Two-version fixture shared by the CDC and time-travel gates: v0 holds
    * orders with o_orderkey%3 ∈ {0,2}, v1 (current) replaces it with
    * %3 ∈ {0,1} — so the diff and both as-of reads are all predicate-
    * derivable by the oracle. */
  private def cdcCatalog(s: SparkSession, d: String): graft.catalog.Catalog = {
    val cat = new graft.catalog.Catalog(s, tempRoot(catalogRoots, s, d, "graft-cat"))
    if (!cat.exists("orders_cdc")) {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("rev_cents"))
      cat.write("orders_cdc",
        o.filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 3 === 2))
      cat.write("orders_cdc", o.filter(col("o_orderkey") % 3 <= 1))
    }
    cat
  }

  /** Per-(session, sfDir) export root for the JSONL sink gate. */
  private val jsonlRoots =
    new PerSession[String]

  /** Per-(session, sfDir) root for the copy-on-write DELETE gate. */
  private val deleteRoots =
    new PerSession[String]

  /** Per-(session, sfDir) root for the MERGE upsert gate. */
  private val mergeRoots =
    new PerSession[String]

  /** Per-(session, sfDir) root for the keyed-CDC gate (its fixture needs
    * UPDATES between versions, which the shared cdcCatalog lacks). */
  private val cdcKeyedRoots =
    new PerSession[String]

  lazy val all: Seq[QueryDef] = Seq(

    // S3+P1 — table scan with column projection (pruned at the parquet scan).
    QueryDef("q_s3_scan_projection",
      (s, d) => t(s, d, "customer").select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer")),

    // P2+F11 — arithmetic projection (UnitPrice*Quantity, populate_fact.py:110),
    // computed in decimal for cross-engine exactness, surfaced as double.
    QueryDef("q_p2_arithmetic",
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(12,2)") * col("l_quantity").cast("decimal(12,2)"))
          .cast("double").as("total_price")),
      Some("""SELECT l_orderkey, l_linenumber,
              CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS total_price
              FROM lineitem""")),

    // P5 — IS NULL predicate filter (validate_data.py:70).
    QueryDef("q_p5_null_filter",
      (s, d) => events(s, d).filter(col("props").isNull).select(col("event_id")),
      Some("SELECT event_id FROM events WHERE props IS NULL")),

    // P6 — equality filter on a status/sentinel value (dynamic_upsert.py:131).
    QueryDef("q_p6_filter_eq",
      (s, d) => t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'")),

    // P7+J4 — IN-subquery as a left-semi join (dynamic_upsert.py:130).
    QueryDef("q_p7_semi_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      Some("SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)")),

    // P8 — conditional column rewrite, the Spark form of the reference's
    // in-place UPDATE (dynamic_upsert.py:128-131).
    QueryDef("q_p8_conditional_rewrite",
      (s, d) => t(s, d, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, lit("delinquent")).otherwise(col("c_mktsegment")).as("segment")),
      Some("""SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 'delinquent' ELSE c_mktsegment END AS segment
              FROM customer""")),

    // A1 — per-column null counts in ONE pass (vs the reference's N scans,
    // validate_data.py:69-71).
    QueryDef("q_a1_null_counts",
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("row_count"),
        count(when(col("l_orderkey").isNull, 1)).as("nn_l_orderkey"),
        count(when(col("l_quantity").isNull, 1)).as("nn_l_quantity"),
        count(when(col("l_returnflag").isNull, 1)).as("nn_l_returnflag"),
        count(when(col("l_shipdate").isNull, 1)).as("nn_l_shipdate")),
      Some("""SELECT count(*) AS row_count,
              count(*) - count(l_orderkey) AS nn_l_orderkey,
              count(*) - count(l_quantity) AS nn_l_quantity,
              count(*) - count(l_returnflag) AS nn_l_returnflag,
              count(*) - count(l_shipdate) AS nn_l_shipdate
              FROM lineitem""")),

    // A2 — duplicate-key detection via GROUP BY + HAVING (validate_data.py:79-81).
    QueryDef("q_a2_dup_keys",
      (s, d) => t(s, d, "lineitem").groupBy(col("l_orderkey")).count()
        .filter(col("count") > 1).select(col("l_orderkey"), col("count").as("cnt")),
      Some("""SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1""")),

    // A3 — DISTINCT projection (dynamic_upsert.py:121).
    QueryDef("q_a3_distinct",
      (s, d) => t(s, d, "customer").select(col("c_nationkey"), col("c_mktsegment")).distinct(),
      Some("SELECT DISTINCT c_nationkey, c_mktsegment FROM customer")),

    // Pivot aggregation: revenue by returnflag spread over the linestatus
    // domain (Spark pivot = grouping + conditional aggregates; the oracle
    // spells the CASE-WHEN form, which is also the exact plan Spark builds).
    QueryDef("q_a4_pivot",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_extendedprice"))))
        .withColumnRenamed("F", "rev_f").withColumnRenamed("O", "rev_o"),
      Some(s"""SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN ${centsSql("l_extendedprice")} END) AS BIGINT) AS rev_f,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN ${centsSql("l_extendedprice")} END) AS BIGINT) AS rev_o
               FROM lineitem GROUP BY l_returnflag""")),

    // J1 — the big-big equi join Orders ⋈ OrderDetails (populate_fact.py:111-112).
    // Shuffle join on the key; AQE balances/skew-splits it at scale.
    QueryDef("q_j1_join_bigbig",
      (s, d) => t(s, d, "orders").join(
          t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("o_orderdate"),
          cents(col("l_extendedprice")).as("price_cents")),
      Some(s"""SELECT o_orderkey, l_linenumber, o_orderdate, ${centsSql("l_extendedprice")} AS price_cents
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey""")),

    // J2 — multi-way star join with small dims broadcast (populate_fact.py:119-123);
    // exact integer-cents revenue so the agg is order-insensitive.
    QueryDef("q_j2_star_agg",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"), count(lit(1)).as("n_items")),
      Some(s"""SELECT r_name, n_name,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS rev_cents,
               count(*) AS n_items
               FROM lineitem
               JOIN orders   ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation   ON c_nationkey = n_nationkey
               JOIN region   ON n_regionkey = r_regionkey
               GROUP BY r_name, n_name""")),

    // J3 — join with residual dim filter, stated pre-join as Catalyst would
    // rewrite it anyway (populate_fact.py:124; SURVEY.md §4).
    QueryDef("q_j3_join_residual",
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_size") < 15)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"),
          sum(col("l_quantity").cast("long")).as("sum_qty")),
      Some(s"""SELECT p_brand, CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS rev_cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE p_size < 15 GROUP BY p_brand""")),

    // W1+F8+L1 — ROW_NUMBER date-series synthesis, the faithful form of
    // datespopulation.py:19-23 (the idiomatic form is q_c4_date_dimension).
    QueryDef("q_w1_row_number",
      (s, d) => t(s, d, "orders")
        .select(row_number().over(Window.orderBy(col("o_orderkey"))).cast("long").as("rn"))
        .filter(col("rn") <= 731)
        .select(col("rn"), date_add(lit(Date.valueOf("2023-01-01")), col("rn").cast("int") - 1).as("d")),
      Some("""SELECT rn, DATE '2023-01-01' + CAST(rn - 1 AS INT) AS d
              FROM (SELECT row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders)
              WHERE rn <= 731""")),

    // W2 — IDENTITY surrogate keys: dense row_number over the business key +
    // high-water-mark offset (SURVEY.md §2.5 W2).
    QueryDef("q_w2_surrogate_keys",
      (s, d) => SurrogateKeys.assign(
          t(s, d, "customer").select(col("c_custkey"), col("c_name")), "customerkey", 1000L, "c_custkey")
        .select(col("customerkey"), col("c_custkey"), col("c_name")),
      Some("""SELECT row_number() OVER (ORDER BY c_custkey) + 1000 AS customerkey, c_custkey, c_name
              FROM customer""")),

    // Anti-join (NOT EXISTS) — the complement of the P7 semi-join:
    // customers with no finalized ('F') orders.
    QueryDef("q_j5_anti_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""")),

    // Full outer join: per-customer order rollup keeping BOTH customers
    // without orders and (synthetic) orders without customers — nulls on
    // either side survive, count(*) vs count(col) distinguishes them.
    QueryDef("q_j6_full_outer",
      (s, d) => {
        val custSide = t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val ordSide = t(s, d, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        custSide.join(ordSide, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(col("c_custkey"), col("c_mktsegment"), col("o_custkey"),
            col("n_orders"))
      },
      Some("""SELECT c_custkey, c_mktsegment, o_custkey, n_orders
              FROM customer FULL OUTER JOIN
              (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
              ON c_custkey = o_custkey""")),

    // Explicit window frame: per-customer running order total (rowsBetween
    // unbounded-preceding..current), deterministic order incl. tie-break.
    QueryDef("q_w3_running_total",
      (s, d) => t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(cents(col("o_totalprice"))).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents")),
      Some(s"""SELECT o_custkey, o_orderkey,
               CAST(sum(${centsSql("o_totalprice")}) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
               FROM orders""")),

    // RANGE window frame: peer rows (equal order keys) aggregate TOGETHER,
    // unlike the ROWS frame in q_w3 — the semantic difference shows whenever
    // the order key has duplicates (same order date here).
    QueryDef("q_w7_range_frame",
      (s, d) => t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(cents(col("o_totalprice"))).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
            .rangeBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents_peers")),
      Some(s"""SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum(${centsSql("o_totalprice")}) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate RANGE UNBOUNDED PRECEDING) AS BIGINT)
                 AS running_cents_peers
               FROM orders""")),

    // Conditional aggregation: per-group counts/sums under predicates in ONE
    // pass (the FILTER-clause shape — count_if / sum(CASE)).
    QueryDef("q_a6_conditional_agg",
      (s, d) => t(s, d, "orders").groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n"),
        count_if(col("o_orderpriority") === "1-URGENT").as("n_urgent"),
        sum(when(col("o_orderpriority") === "1-URGENT", cents(col("o_totalprice")))
          .otherwise(lit(0L))).as("urgent_cents"),
        max(when(col("o_orderpriority") === "1-URGENT", col("o_orderdate")))
          .as("last_urgent_date")),
      Some(s"""SELECT o_orderstatus, count(*) AS n,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN ${centsSql("o_totalprice")} ELSE 0 END) AS BIGINT) AS urgent_cents,
               max(o_orderdate) FILTER (WHERE o_orderpriority = '1-URGENT')
                 AS last_urgent_date
               FROM orders GROUP BY o_orderstatus""")),

    // F1-F10 — date-part and date-arithmetic functions, incl. the Redshift DOW
    // numbering trap (SURVEY.md §2.7 F5: Spark dayofweek is 1-based Sunday).
    QueryDef("q_f_date_parts",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("day"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
        weekofyear(col("o_orderdate")).cast("long").as("week"),
        date_add(col("o_orderdate").cast("date"), 7).as("plus7"),
        date_sub(col("o_orderdate").cast("date"), 1).as("minus1")),
      Some("""SELECT o_orderkey,
              year(o_orderdate) AS y, quarter(o_orderdate) AS q, month(o_orderdate) AS m,
              day(o_orderdate) AS day, dayofweek(o_orderdate) AS dow, weekofyear(o_orderdate) AS week,
              CAST(o_orderdate AS DATE) + 7 AS plus7, CAST(o_orderdate AS DATE) - 1 AS minus1
              FROM orders""")),

    // Time-series rollup: monthly order revenue via date_trunc.
    QueryDef("q_f3_date_trunc",
      (s, d) => t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"), count(lit(1)).as("n_orders")),
      Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_cents,
               count(*) AS n_orders FROM orders GROUP BY 1""")),

    // Analytic window family: lag/lead/first_value over per-customer order
    // history (deterministic order incl. tie-break; exact-cents measures).
    QueryDef("q_w5_analytic",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"),
          lag(cents(col("o_totalprice")), 1).over(w).as("prev_cents"),
          lead(cents(col("o_totalprice")), 1).over(w).as("next_cents"),
          first(cents(col("o_totalprice"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_cents"))
      },
      Some(s"""SELECT o_custkey, o_orderkey, ${centsSql("o_totalprice")} AS price_cents,
               lag(${centsSql("o_totalprice")}, 1) OVER w AS prev_cents,
               lead(${centsSql("o_totalprice")}, 1) OVER w AS next_cents,
               first_value(${centsSql("o_totalprice")}) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS first_cents
               FROM orders
               WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    // Distribution window family: ntile / percent_rank / cume_dist over an
    // exact integer measure (ranks are integers, the two ratios are single
    // divisions of integers → identical doubles on both engines).
    QueryDef("q_w6_distribution",
      (s, d) => {
        val w = Window.orderBy(col("c_acctbal_cents"), col("c_custkey"))
        t(s, d, "customer")
          .select(col("c_custkey"), cents(col("c_acctbal")).as("c_acctbal_cents"))
          .select(col("c_custkey"), col("c_acctbal_cents"),
            ntile(10).over(w).cast("long").as("decile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cd"))
      },
      Some(s"""SELECT c_custkey, ${centsSql("c_acctbal")} AS c_acctbal_cents,
               CAST(ntile(10) OVER w AS BIGINT) AS decile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cd
               FROM customer
               WINDOW w AS (ORDER BY ${centsSql("c_acctbal")}, c_custkey)""")),

    // String-distance + transform family: levenshtein, translate, reverse,
    // repeat, split+element_at (all integer/byte-deterministic).
    QueryDef("q_f4_string_distance",
      (s, d) => t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        levenshtein(col("n_name"), lit("UNITED STATES")).cast("long").as("dist_us"),
        translate(col("n_name"), "AEIOU", "aeiou").as("vowels_lower"),
        reverse(col("n_name")).as("name_rev"),
        org.apache.spark.sql.functions.repeat(lit("-"), 3).as("dashes"),
        element_at(split(col("n_name"), " "), 1).as("first_word")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
              CAST(levenshtein(n_name, 'UNITED STATES') AS BIGINT) AS dist_us,
              translate(n_name, 'AEIOU', 'aeiou') AS vowels_lower,
              reverse(n_name) AS name_rev,
              repeat('-', 3) AS dashes,
              string_split(n_name, ' ')[1] AS first_word
              FROM nation""")),

    // Fuzzy record linkage (operators.RecordLinkage): all customer-name
    // pairs within edit distance 1, found via FastSS deletion-neighborhood
    // blocking — candidates come from an equi-join on {self}∪{deletions}
    // variant keys (map-side linear blow-up, no block² comparisons), then
    // one codegen'd levenshtein verify per candidate.
    QueryDef("q_x_fuzzy_pairs",
      (s, d) => graft.operators.RecordLinkage.editNeighborPairs(
          t(s, d, "customer"), "c_custkey", "c_name")
        .select(col("id1"), col("id2"), col("dist")),
      Some("""WITH c AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
              v AS (SELECT id, nm, unnest(list_prepend(nm,
                      list_transform(generate_series(1, len(nm)),
                        i -> substr(nm, 1, i-1) || substr(nm, i+1)))) AS variant
                    FROM c),
              cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2,
                         a.nm AS k1, b.nm AS k2
                       FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id)
              SELECT id1, id2, CAST(levenshtein(k1, k2) AS BIGINT) AS dist
              FROM cand WHERE levenshtein(k1, k2) <= 1""")),

    // Salted big-big join (operators.Skew): semantics-preserving — the
    // result multiset equals the PLAIN join, which is exactly what the
    // oracle runs. The salt splits each hot key across `salts` tasks; the
    // aggregate collapses it back, proving no row was lost or duplicated.
    QueryDef("q_x_salted_join",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        val ords = t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        // 4 salts: salt count should match the skew degree, and the test
        // data has no pathological hot key — more salts only multiply the
        // build-side replication cost.
        graft.operators.Skew.saltedJoin(li, ords, "l_orderkey", 4)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderstatus""")),

    // Bloom-filter join pruning (operators.BloomJoin): build a ~10 KB
    // filter over the selective dim keys, drop probe rows MAP-SIDE before
    // any join shuffle — Spark's runtime row-level filtering surfaced as an
    // explicit, stageable operator. The gate hashes the CONTRACT (no false
    // negatives — match counts survive pruning exactly — and observed FPR
    // within its sizing bound); the estimate-dependent pruned count stays
    // out of the hash, like the HLL estimate.
    QueryDef("q_x_bloom_prune",
      (s, d) => {
        val bj = graft.operators.BloomJoin
        val build = t(s, d, "part").filter(col("p_size") === 1)
          .select(col("p_partkey").as("k")).distinct()
        val filter = bj.buildFilter(build, "k",
          expectedItems = 10000L, numBits = 80000L)
        val flagged = t(s, d, "lineitem").select(col("l_partkey").as("k"))
          .join(broadcast(build.withColumn("mt", lit(true))), Seq("k"), "left")
          .select(col("k"), coalesce(col("mt"), lit(false)).as("mt"),
            bj.mightContain(filter, col("k")).as("mc"))
        flagged.agg(
          sum(when(col("mt"), 1L).otherwise(0L)).as("n_match_rows"),
          count_distinct(when(col("mt"), col("k"))).as("n_match_keys"),
          (sum(when(col("mt") && !col("mc"), 1L).otherwise(0L)) === 0L)
            .as("no_false_negatives"),
          (count_distinct(when(col("mc") && !col("mt"), col("k"))).cast("double")
            <= lit(0.05) * count_distinct(when(!col("mt"), col("k"))) + 1)
            .as("fpr_below_bound"))
      },
      Some("""WITH b AS (SELECT DISTINCT p_partkey AS k FROM part WHERE p_size = 1),
              j AS (SELECT pr.k, (b.k IS NOT NULL) AS mt
                    FROM (SELECT l_partkey AS k FROM lineitem) pr
                    LEFT JOIN b ON pr.k = b.k)
              SELECT CAST(sum(CASE WHEN mt THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_match_rows,
                     CAST(count(DISTINCT CASE WHEN mt THEN k END) AS BIGINT)
                       AS n_match_keys,
                     true AS no_false_negatives, true AS fpr_below_bound
              FROM j""")),

    // Exact exponential time-decay without libm: a 180-day half-life is a
    // RIGHT SHIFT of integer cents by elapsed-half-lives (2^-k is exact in
    // any engine; truncating integer shift IS the contract) — the recency
    // prior every freshness-weighted corpus/revenue score needs, with no
    // pow()/exp() cross-engine last-ulp hazard. Anchor = max order date
    // (1-row broadcast); one scan + one group-count-sized aggregate.
    QueryDef("q_x_recency_decay",
      (s, d) => {
        val o = t(s, d, "orders")
        val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
        o.select(col("o_orderpriority"), col("o_orderdate"),
            cents(col("o_totalprice")).as("cents"))
          .crossJoin(broadcast(anchor))
          .withColumn("h",
            expr("datediff(cast(anchor as date), cast(o_orderdate as date)) div 180"))
          .withColumn("decayed",
            expr("cents div shiftleft(cast(1 as bigint), cast(h as int))"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("cents_sum"),
            sum(col("decayed")).as("decayed_sum"))
      },
      Some(s"""WITH a AS (SELECT max(o_orderdate) AS anchor FROM orders),
              b AS (SELECT o_orderpriority,
                      ${centsSql("o_totalprice")} AS cents,
                      date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(a.anchor AS DATE)) // 180 AS h
                    FROM orders, a)
              SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(cents) AS BIGINT) AS cents_sum,
                     CAST(sum(cents // (CAST(1 AS BIGINT) << h)) AS BIGINT)
                       AS decayed_sum
              FROM b GROUP BY 1""")),

    // L1+L2 — deterministic top-k (ORDER BY + LIMIT with a tie-break).
    QueryDef("q_l1_topk",
      (s, d) => t(s, d, "orders").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10).select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // Set op — the SCD2 append is a union (dynamic_upsert.py:137-139 →
    // unionByName, SURVEY.md §2.6).
    QueryDef("q_u1_union",
      (s, d) => t(s, d, "customer").select(col("c_custkey").as("id"), lit("customer").as("kind"))
        .unionByName(t(s, d, "supplier").select(col("s_suppkey").as("id"), lit("supplier").as("kind"))),
      Some("""SELECT c_custkey AS id, 'customer' AS kind FROM customer
              UNION ALL SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier""")),

    // Set ops beyond UNION: customers with any order EXCEPT those with a
    // finalized order (Spark `except` = EXCEPT DISTINCT on both engines).
    QueryDef("q_u2_except",
      (s, d) => t(s, d, "orders").select(col("o_custkey"))
        .except(t(s, d, "orders").filter(col("o_orderstatus") === "F").select(col("o_custkey"))),
      Some("""SELECT o_custkey FROM orders
              EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""")),

    QueryDef("q_u3_intersect",
      (s, d) => t(s, d, "orders").filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(t(s, d, "orders").filter(col("o_orderstatus") === "O").select(col("o_custkey"))),
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""")),

    // Bag-semantics set ops: EXCEPT ALL preserves multiplicities (a customer
    // with 3 'O' orders and 1 'F' order keeps 2 rows) — the semantic edge
    // DISTINCT-flavored except erases.
    QueryDef("q_u4_except_all",
      (s, d) => t(s, d, "orders").filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .exceptAll(t(s, d, "orders").filter(col("o_orderstatus") === "F").select(col("o_custkey"))),
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""")),

    // C4 — the date dimension itself (datespopulation.py:16-43) via
    // spark.range, no row-source hack, no single-partition sort.
    QueryDef("q_c4_date_dimension",
      (s, _) => DateDimension.build(s).select(
        col("datekey"), col("date"),
        col("year").cast("long").as("year"), col("quarter").cast("long").as("quarter"),
        col("month").cast("long").as("month"), col("day").cast("long").as("day"),
        col("weekday").cast("long").as("weekday"), col("week").cast("long").as("week")),
      Some("""SELECT i + 1 AS datekey, DATE '2023-01-01' + CAST(i AS INT) AS date,
              year(DATE '2023-01-01' + CAST(i AS INT)) AS year,
              quarter(DATE '2023-01-01' + CAST(i AS INT)) AS quarter,
              month(DATE '2023-01-01' + CAST(i AS INT)) AS month,
              day(DATE '2023-01-01' + CAST(i AS INT)) AS day,
              dayofweek(DATE '2023-01-01' + CAST(i AS INT)) AS weekday,
              weekofyear(DATE '2023-01-01' + CAST(i AS INT)) AS week
              FROM range(731) t(i)""")),

    // C1 — the full validation verdict as one row: row count, null counts,
    // duplicate-PK count (validate_data.py:40-86), two jobs total.
    QueryDef("q_c1_validate_summary",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val aggs = li.agg(
          count(lit(1)).as("row_count"),
          count(when(col("l_orderkey").isNull, 1)).as("nn_orderkey"),
          count(when(col("l_extendedprice").isNull, 1)).as("nn_extendedprice"),
          // VARCHAR width enforcement (Validator maxLength): rows exceeding
          // the flag's declared 1-char width — same one-pass shape (the
          // violating case is exercised in ValidatorSpec fixtures).
          count(when(length(col("l_returnflag")) > 1, 1)).as("len_returnflag"))
        val dups = li.groupBy(col("l_orderkey"), col("l_linenumber")).count()
          .filter(col("count") > 1).agg(count(lit(1)).as("dup_keys"))
        aggs.crossJoin(dups)
      },
      Some("""SELECT (SELECT count(*) FROM lineitem) AS row_count,
              (SELECT count(*) - count(l_orderkey) FROM lineitem) AS nn_orderkey,
              (SELECT count(*) - count(l_extendedprice) FROM lineitem) AS nn_extendedprice,
              (SELECT count(*) FILTER (WHERE length(l_returnflag) > 1) FROM lineitem) AS len_returnflag,
              (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
                GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)) AS dup_keys""")),

    // C2 — SCD2 initial load with injected runDate (dynamic_upsert.py:108-152
    // on an empty dimension).
    QueryDef("q_c2_scd2_initial",
      (s, d) => Scd2Upsert.initialLoad(t(s, d, "customer"), custSpec, run1),
      Some(s"""SELECT row_number() OVER (ORDER BY c_custkey) AS customerkey, $scdCols,
               DATE '2024-01-01' AS startdate, DATE '9999-12-31' AS enddate
               FROM (SELECT DISTINCT $scdCols FROM customer)""")),

    // C2 — SCD2 re-run: the as-is reference semantics re-version EVERY source
    // row (no change detection): run1 rows close at run2-1, all keys get a new
    // version keyed past the old max (SURVEY.md §7.5.1).
    QueryDef("q_c2_scd2_rerun",
      (s, d) => {
        val src = t(s, d, "customer")
        val dim1 = Scd2Upsert.initialLoad(src, custSpec, run1)
        Scd2Upsert.run(src, dim1, custSpec, run2)
      },
      Some(s"""WITH src AS (SELECT DISTINCT $scdCols FROM customer),
               run1 AS (SELECT row_number() OVER (ORDER BY c_custkey) AS customerkey, $scdCols,
                        DATE '2024-01-01' AS startdate, DATE '9999-12-31' AS enddate FROM src)
               SELECT customerkey, $scdCols, startdate, DATE '2024-05-31' AS enddate FROM run1
               UNION ALL
               SELECT (SELECT max(customerkey) FROM run1) + row_number() OVER (ORDER BY c_custkey),
                      $scdCols, DATE '2024-06-01', DATE '9999-12-31' FROM src""")),

    // C2 consumer side — point-in-time lookup: after the re-run, "as of
    // 2024-03-15" must return the CLOSED first versions (keys 1..n), not the
    // current ones — the temporal-correctness property SCD2 exists for.
    QueryDef("q_c2_scd2_asof",
      (s, d) => {
        val src = t(s, d, "customer")
        val dim2 = Scd2Upsert.run(src, Scd2Upsert.initialLoad(src, custSpec, run1), custSpec, run2)
        Scd2Upsert.asOfRows(dim2, custSpec, Date.valueOf("2024-03-15"))
      },
      Some(s"""WITH src AS (SELECT DISTINCT $scdCols FROM customer),
               run1 AS (SELECT row_number() OVER (ORDER BY c_custkey) AS customerkey, $scdCols,
                        DATE '2024-01-01' AS startdate, DATE '9999-12-31' AS enddate FROM src),
               dim2 AS (SELECT customerkey, $scdCols, startdate, DATE '2024-05-31' AS enddate FROM run1
                        UNION ALL
                        SELECT (SELECT max(customerkey) FROM run1) + row_number() OVER (ORDER BY c_custkey),
                               $scdCols, DATE '2024-06-01', DATE '9999-12-31' FROM src)
               SELECT * FROM dim2
               WHERE startdate <= DATE '2024-03-15' AND enddate >= DATE '2024-03-15'""")),

    // C3 — the flagship fact build: Orders ⋈ OrderDetails staging + 4-way
    // broadcast star join against current-version dims + generated date dim
    // (populate_fact.py:74-150). The only shuffle is the big-big join.
    QueryDef("q_c3_fact_build", (s, d) => factBuild(s, d), Some(factOracle)),

    // The 100 TB answer for the repeated big-big key join: both fact inputs
    // land as co-bucketed catalog tables (hash-bucketed + sorted on orderid)
    // and the IDENTICAL fact build then plans zero hash-partition exchanges
    // — the shuffle was paid once at write time, not per query. Same oracle
    // as q_c3_fact_build: bucketing must change the plan, never the rows.
    QueryDef("q_x_bucketed_fact",
      (s, d) => {
        // write once per (session, sfDir), reuse thereafter — the whole
        // point of bucketing is paying the key shuffle at write time and
        // amortizing it across every subsequent join (bench rerun 2
        // measures the bucketed JOIN, which is what repeated fact builds
        // actually cost). The sfDir rides in the table names: a plain
        // per-session guard would silently serve one scale factor's tables
        // to another in a session touching both.
        val tag = java.lang.Integer.toHexString(d.hashCode)
        val (oTbl, dTbl) = (s"graft_orders_bkt_$tag", s"graft_details_bkt_$tag")
        if (!s.catalog.tableExists(oTbl)) {
          val (orders, details) = factInputs(s, d)
          val cat = new graft.catalog.Catalog(s,
            java.nio.file.Files.createTempDirectory("graft-buckets").toString)
          cat.writeBucketed(oTbl, orders, "orderid", 8)
          cat.writeBucketed(dTbl, details, "orderid", 8)
        }
        val dimCust = Scd2Upsert.initialLoad(
          t(s, d, "customer").withColumnRenamed("c_custkey", "customerid"),
          custSpec.copy(businessKey = "customerid"), run1)
        factJoinFrom(s, d, s.table(oTbl), s.table(dTbl), dimCust)
      },
      Some(factOracle)),

    // Headline agg (TPC-H Q1 shape): wide aggregate over the fact table —
    // all measures in exact decimal/integer space, surfaced as doubles.
    QueryDef("q_h1_pricing_summary",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          (sum(cents(col("l_extendedprice"))).cast("double") / 100).as("sum_base_price"),
          (sum((col("l_extendedprice").cast("decimal(12,2)") *
            (lit(BigDecimal(1)).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)"))))
            .cast("double")).as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS DOUBLE) / 100 AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
               count(*) AS count_order
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
               GROUP BY l_returnflag, l_linestatus""")),

    // Hierarchical aggregate: ROLLUP over (returnflag, linestatus) with
    // grouping indicators — subtotals + grand total in one pass (Spark
    // expands grouping sets before the hash agg; still a single shuffle).
    QueryDef("q_h2_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls")),
      Some(s"""SELECT l_returnflag, l_linestatus,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS rev_cents,
               count(*) AS n,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
               FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // CUBE: all grouping-set combinations with the grouping_id bitmap.
    QueryDef("q_h4_cube",
      (s, d) => t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
              FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // Explicit GROUPING SETS (beyond rollup/cube): exactly the named
    // combinations — (status, priority), (status), () — one shuffle, the
    // expand operator fans rows per set before the aggregate.
    QueryDef("q_h5_grouping_sets",
      (s, d) => t(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
              FROM orders GROUP BY GROUPING SETS
              ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""")),

    // Null-safe equality (<=> / IS NOT DISTINCT FROM): join facts where
    // either both sides are null or both equal — the semantics UPDATE/MERGE
    // predicates need when keys are nullable.
    QueryDef("q_f5_null_safe_eq",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 100 === 0, lit(null)).otherwise(col("o_orderpriority"))
            .as("pri_nullable"))
        o.groupBy(col("pri_nullable")).agg(count(lit(1)).as("n"))
          .withColumn("is_null_group", col("pri_nullable") <=> lit(null))
      },
      Some("""SELECT pri_nullable, count(*) AS n,
              pri_nullable IS NOT DISTINCT FROM NULL AS is_null_group
              FROM (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                    ELSE o_orderpriority END AS pri_nullable FROM orders)
              GROUP BY pri_nullable""")),

    // The spark.sql SURFACE itself: the same engine semantics reached
    // through SQL text over registered views — a reference user's literal
    // queries run unchanged (identical SQL runs on DuckDB as the oracle).
    QueryDef("q_x_sql_api",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("graft_orders")
        t(s, d, "customer").createOrReplaceTempView("graft_customer")
        s.sql(s"""SELECT c_mktsegment, count(*) AS n,
                  CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_cents
                  FROM graft_orders JOIN graft_customer ON o_custkey = c_custkey
                  GROUP BY c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n,
               CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_cents
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment""")),

    // Correlated LATERAL semantics (top-2 priciest lineitems of each
    // high-value order), computed join-first: Spark decorrelates a LATERAL
    // + LIMIT into a ranked window over the WHOLE inner table BEFORE the
    // (here: very selective) outer filter joins in — measured at local[32]
    // sf0.1, that plan sorts+shuffles all 600k lineitems to keep top-2 for
    // every order, then discards all but ~40 orders (0.99 s). The
    // join-then-rank form below is row-identical (same per-order top-2,
    // same (price DESC, linenumber) tie-break; orders without lineitems
    // are dropped by both the inner LATERAL and the inner join) but the
    // selective filter prunes BEFORE the window, so the rank runs over the
    // surviving ~200 rows. The oracle keeps the original LATERAL text —
    // the semantics, not the plan, are the contract.
    QueryDef("q_x_lateral_topn",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("graft_orders")
        t(s, d, "lineitem").createOrReplaceTempView("graft_lineitem")
        s.sql(s"""SELECT o_orderkey, l_linenumber, price_cents FROM (
                    SELECT o.o_orderkey, l.l_linenumber,
                      ${centsSql("l.l_extendedprice")} AS price_cents,
                      row_number() OVER (PARTITION BY o.o_orderkey
                        ORDER BY l.l_extendedprice DESC, l.l_linenumber) AS rk
                    FROM graft_orders o JOIN graft_lineitem l
                      ON l.l_orderkey = o.o_orderkey
                    WHERE o.o_totalprice > 450000)
                  WHERE rk <= 2""")
      },
      Some(s"""SELECT o_orderkey, l.l_linenumber,
               ${centsSql("l.l_extendedprice")} AS price_cents
               FROM orders,
               LATERAL (SELECT l_linenumber, l_extendedprice
                        FROM lineitem
                        WHERE l_orderkey = o_orderkey
                        ORDER BY l_extendedprice DESC, l_linenumber
                        LIMIT 2) AS l
               WHERE o_totalprice > 450000""")),

    // Collect + sort: per-group ordered array aggregation (sorting makes the
    // nondeterministic collect order irrelevant on both engines). The gate
    // column is the '|'-joined scalar rather than the raw array because the
    // driver's pandas-based compare cannot sort an array column.
    QueryDef("q_a5_array_agg",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("priorities"),
          count(lit(1)).as("n")),
      Some("""SELECT o_orderstatus,
              array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
              count(*) AS n FROM orders GROUP BY o_orderstatus""")),

    // String-function surface (absent from the reference but table stakes
    // for an analytics engine): case, substring, trim/pad, replace, concat.
    QueryDef("q_f2_string_functions",
      (s, d) => t(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(trim(col("c_mktsegment"))).cast("long").as("seg_len"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
        concat(col("c_mktsegment"), lit("/"), col("c_name")).as("seg_name")),
      Some("""SELECT c_custkey, upper(c_mktsegment) AS seg_upper, lower(c_name) AS name_lower,
              substr(c_name, 1, 8) AS name_prefix, length(trim(c_mktsegment)) AS seg_len,
              lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
              regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
              c_mktsegment || '/' || c_name AS seg_name
              FROM customer""")),

    // Headline join+topk (TPC-H Q3 shape): revenue-ranked orders for one
    // segment — join pruned by the dim filter, deterministic top-10.
    QueryDef("q_h3_top_revenue",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(cents(col("l_extendedprice"))).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey")).limit(10),
      Some(s"""SELECT o_orderkey, o_orderdate,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS revenue_cents
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               WHERE c_mktsegment = 'BUILDING'
               GROUP BY o_orderkey, o_orderdate
               ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""")),

    // C2+C3 chained — surrogate-key stability across re-versioning: after a
    // second SCD2 run the fact must resolve to the CURRENT version's keys.
    QueryDef("q_c3_fact_after_rerun",
      (s, d) => {
        val src = t(s, d, "customer")
        val dimC2 = Scd2Upsert.run(src, Scd2Upsert.initialLoad(src, custSpec, run1), custSpec, run2)
        factJoin(s, d, dimC2)
      },
      Some(factAfterRerunOracle)),

    // S1 end-to-end — the reference's ONE ingest format (COPY ... FORMAT AS
    // CSV IGNOREHEADER 1, validate_data.py:138-146) driven through the real
    // CSV reader against a file materialized from the parquet truth: the
    // oracle reads the parquet directly, so any write→read round-trip
    // corruption (quoting, decimals, dates, header handling) fails the hash.
    QueryDef("q_s1_csv_load",
      (s, d) => graft.io.Sources
        .csv(s, s"${CsvFixtures.root(s, d)}/customers", graft.model.Schemas.customers)
        .select(col("customerid").cast("long").as("customerid"),
          col("firstname"), col("lastname"), col("email"), col("address"),
          col("city"), col("state"), col("zipcode")),
      Some("""SELECT CAST(c_custkey AS BIGINT) AS customerid, c_name AS firstname,
              c_mktsegment AS lastname, c_name || '@example.com' AS email,
              c_mktsegment AS address, c_mktsegment AS city,
              substr(c_name, 10, 2) AS state, substr(c_name, 10, 9) AS zipcode
              FROM customer""")),

    // JSONL export sink round-trip: write the documents table as sharded
    // JSONL (the training-delivery format), read it back through the
    // schema'd JSONL source, and oracle the read-back rows against the
    // parquet directly — any value the writer mangles (escaping, nulls,
    // integer widths) breaks the hash. Write-once per (session, sf) like
    // the stored-index gates.
    QueryDef("q_x_jsonl_export",
      (s, d) => {
        val docs = t(s, d, "documents")
        val out = tempRoot(jsonlRoots, s, d, "graft-jsonl-export") + "/docs"
        if (!new java.io.File(out).exists)
          graft.io.Sources.writeJsonl(docs, out, 4, "doc_id")
        graft.io.Sources.jsonl(s, out, docs.schema)
          .select(docs.schema.fieldNames.map(col).toIndexedSeq: _*)
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // JSONL ingest with corrupt-line quarantine (Sources
    // .jsonlWithQuarantine): the fixture writes one JSONL line per doc,
    // truncating doc_id%13=5 (unclosed object) and beheading doc_id%13=9
    // (opening brace dropped) — both malformed to any JSON parser (note:
    // TRAILING garbage would NOT do — Jackson stops at the first complete
    // value, so Spark accepts it while json_valid does not). The gate hashes the CLEAN side against the rule-derived
    // survivor set: a parser that lets a corrupt line through, or drops a
    // clean one, changes the row set. Write-once per (session, sf).
    QueryDef("q_x_jsonl_quarantine",
      (s, d) => {
        val docs = t(s, d, "documents")
        val out = tempRoot(jsonlRoots, s, d, "graft-jsonl-quarantine") + "/lines"
        if (!new java.io.File(out).exists) {
          val line = concat(lit("{\"doc_id\": "), col("doc_id"),
            lit(", \"lang\": \""), col("lang"),
            lit("\", \"n_chars\": "), col("n_chars"), lit("}"))
          docs.select(
            when(col("doc_id") % 13 === 5, line.substr(lit(1), length(line) - 1))
              .when(col("doc_id") % 13 === 9, line.substr(lit(2), length(line)))
              .otherwise(line).as("value"))
            .write.mode("overwrite").text(out)
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        val (clean, _) = graft.io.Sources.jsonlWithQuarantine(s, out, schema)
        clean
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
              WHERE doc_id % 13 <> 5 AND doc_id % 13 <> 9""")),

    // Columnar-format interop: the corpus written as ORC (Spark's second
    // built-in columnar format) and read back — the cross-team handoff
    // path when a consumer stack is ORC/Hive-native. Round-trip must be
    // lossless: the oracle reads the ORIGINAL parquet.
    QueryDef("q_x_orc_roundtrip",
      (s, d) => {
        val docs = t(s, d, "documents")
        val out = tempRoot(jsonlRoots, s, d, "graft-orc") + "/docs_orc"
        if (!new java.io.File(out).exists)
          docs.write.mode("overwrite").orc(out)
        s.read.orc(out)
          .select(docs.schema.fieldNames.map(col).toIndexedSeq: _*)
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // S2 — TRUNCATE (validate_data.py:139) made oracle-visible, not just
    // spec-visible: write → truncate → reload (append). The audit row pins
    // the post-truncate count at 0 (atomic with the run, replayed on every
    // invocation from the catalog), and the reload totals have teeth: had
    // truncate not emptied the table, the append would double every count
    // and the hash would fail.
    QueryDef("q_s2_truncate_reload",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(catalogRoots, s, d, "graft-cat"))
        if (!cat.exists("supplier_stage")) {
          cat.write("supplier_stage", t(s, d, "supplier"))
          cat.truncate("supplier_stage")
          cat.write("trunc_audit", cat.read("supplier_stage")
            .agg(count(lit(1)).as("rows_after_truncate")))
          cat.append("supplier_stage", t(s, d, "supplier"))
        }
        cat.read("supplier_stage")
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), sum(cents(col("s_acctbal"))).as("bal_cents"))
          .crossJoin(broadcast(cat.read("trunc_audit")))
      },
      Some(s"""SELECT s_nationkey, count(*) AS n,
               CAST(sum(${centsSql("s_acctbal")}) AS BIGINT) AS bal_cents,
               CAST(0 AS BIGINT) AS rows_after_truncate
               FROM supplier GROUP BY s_nationkey""")),

    // Change-data capture between catalog versions: v0 carries orders with
    // o_orderkey%3 ∈ {0,2}, v1 replaces it with %3 ∈ {0,1} — the diff must
    // be exactly the %3=1 rows added and the %3=2 rows removed. Multiset
    // semantics (exceptAll), tagged rows, zero data movement beyond the
    // two version scans.
    QueryDef("q_x_version_diff",
      (s, d) => {
        val cat = cdcCatalog(s, d)
        cat.diffVersions("orders_cdc", 0, 1)
          .select(col("o_orderkey"), col("rev_cents"), col("change"))
      },
      Some(s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS rev_cents,
                      'added' AS change
               FROM orders WHERE o_orderkey % 3 = 1
               UNION ALL
               SELECT o_orderkey, ${centsSql("o_totalprice")} AS rev_cents,
                      'removed' AS change
               FROM orders WHERE o_orderkey % 3 = 2""")),

    // Primary-key CDC between versions (Catalog.diffVersionsKeyed): v0
    // holds %3 ∈ {0,2}, v1 holds %3 ∈ {0,1} with shared keys ≡0 mod 9
    // repriced (+77) — so the feed must classify inserts (%3=1), deletes
    // (%3=2) AND updates (%3=0 ∧ %9=0, shipping NEW values), and emit
    // nothing for unchanged keys. The row-level shape sinks replay.
    QueryDef("q_x_cdc_keyed",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(cdcKeyedRoots, s, d, "graft-cdck"))
        if (!cat.exists("orders_cdck")) {
          val o = t(s, d, "orders")
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("rev_cents"))
          cat.write("orders_cdck",
            o.filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 3 === 2))
          cat.write("orders_cdck",
            o.filter(col("o_orderkey") % 3 <= 1)
              .withColumn("rev_cents", when(col("o_orderkey") % 9 === 0,
                col("rev_cents") + 77L).otherwise(col("rev_cents"))))
        }
        cat.diffVersionsKeyed("orders_cdck", 0, 1, "o_orderkey")
      },
      Some(s"""WITH o AS (SELECT o_orderkey,
                 ${centsSql("o_totalprice")} AS rev_cents FROM orders)
               SELECT 'insert' AS op, o_orderkey, rev_cents FROM o
               WHERE o_orderkey % 3 = 1
               UNION ALL
               SELECT 'delete', o_orderkey, rev_cents FROM o
               WHERE o_orderkey % 3 = 2
               UNION ALL
               SELECT 'update', o_orderkey, rev_cents + 77 FROM o
               WHERE o_orderkey % 9 = 0""")),

    // Time travel: the CURRENT table and a pinned historical version read
    // side by side in one result — the as-of-yesterday audit query. The
    // totals have teeth: v0 and v1 hold different order subsets, so a
    // pointer mix-up or a non-atomic replace fails the hash.
    QueryDef("q_x_time_travel",
      (s, d) => {
        val cat = cdcCatalog(s, d)
        def summarize(df: org.apache.spark.sql.DataFrame, v: String) =
          df.agg(count(lit(1)).as("n_orders"), sum(col("rev_cents")).as("rev_cents"))
            .select(lit(v).as("version"), col("n_orders"), col("rev_cents"))
        summarize(cat.readVersion("orders_cdc", 0), "v0")
          .unionByName(summarize(cat.read("orders_cdc"), "current"))
      },
      Some(s"""SELECT 'v0' AS version, count(*) AS n_orders,
                      CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_cents
               FROM orders WHERE o_orderkey % 3 IN (0, 2)
               UNION ALL
               SELECT 'current', count(*),
                      CAST(sum(${centsSql("o_totalprice")}) AS BIGINT)
               FROM orders WHERE o_orderkey % 3 IN (0, 1)""")),

    // Named release tags (Catalog.tag/readTag): pin "release-1" to v0,
    // then commit two more versions so the default retention (2) would
    // prune v0 — the tagged version must SURVIVE pruning and read back
    // byte-exactly by name while the current pointer moves on. The
    // reproducible-dataset-release verb: a training run records the tag,
    // not a moving pointer.
    QueryDef("q_x_tag_pin",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s,
          tempRoot(catalogRoots, s, d, "graft-cat"))
        if (!cat.exists("rel_orders")) {
          val o = t(s, d, "orders")
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
          cat.write("rel_orders", o.filter(col("o_orderkey") % 4 === 0))
          cat.tag("rel_orders", "release-1", 0L)
          cat.write("rel_orders", o.filter(col("o_orderkey") % 4 <= 1))
          cat.write("rel_orders", o.filter(col("o_orderkey") % 4 <= 2))
        }
        cat.readTag("rel_orders", "release-1")
          .agg(count(lit(1)).as("n_release"), sum(col("cents")).as("cents_release"))
          .crossJoin(cat.read("rel_orders")
            .agg(count(lit(1)).as("n_current"), sum(col("cents")).as("cents_current")))
          .withColumn("tagged_version",
            lit(cat.tags("rel_orders")("release-1")))
          .withColumn("n_versions", lit(cat.versions("rel_orders").size.toLong))
      },
      Some(s"""SELECT
                 (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 0)
                   AS n_release,
                 (SELECT CAST(sum(${centsSql("o_totalprice")}) AS BIGINT)
                  FROM orders WHERE o_orderkey % 4 = 0) AS cents_release,
                 (SELECT count(*) FROM orders WHERE o_orderkey % 4 <= 2)
                   AS n_current,
                 (SELECT CAST(sum(${centsSql("o_totalprice")}) AS BIGINT)
                  FROM orders WHERE o_orderkey % 4 <= 2) AS cents_current,
                 CAST(0 AS BIGINT) AS tagged_version,
                 CAST(3 AS BIGINT) AS n_versions""")),

    // Benford first-digit audit — the classic fabricated-numbers /
    // unit-mixup data-quality screen over a positive measure column:
    // per leading digit, the exact observed count beside the Benford
    // expectation in micro units. The log10 expectations are PRECOMPUTED
    // DRIVER LITERALS baked identically into both plans (no engine libm
    // in either plan); deviation is pure integer arithmetic. Map-side
    // census + 9-row aggregate.
    QueryDef("q_x_benford",
      (s, d) => {
        // expected_micro[d] = round(log10(1 + 1/d) * 1e6), exact literals
        val exp6 = (1 to 9).map(dg =>
          dg -> math.round(math.log10(1.0 + 1.0 / dg) * 1e6))
        val expMap = exp6.map { case (dg, e) =>
          s"WHEN $dg THEN ${e}L" }.mkString(" ")
        val o = t(s, d, "orders")
        val n = o.count()
        // leading digit via INTEGER cents — integer-to-string rendering is
        // unambiguous in both engines, double-to-string is not (and cents
        // share the price's leading digit for any price >= 1)
        o.select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
            .cast("long").as("digit"))
          .groupBy(col("digit"))
          .agg(count(lit(1)).as("n_obs"))
          .withColumn("expected_micro",
            expr(s"CASE digit $expMap ELSE 0L END"))
          .withColumn("expected_n_micro", col("expected_micro") * n)
          .withColumn("dev_micro",
            col("n_obs") * 1000000L - col("expected_n_micro"))
      },
      Some {
        val exp6 = (1 to 9).map(dg =>
          dg -> math.round(math.log10(1.0 + 1.0 / dg) * 1e6))
        val expMap = exp6.map { case (dg, e) =>
          s"WHEN $dg THEN CAST($e AS BIGINT)" }.mkString(" ")
        s"""WITH n AS (SELECT count(*) AS total FROM orders),
            c AS (SELECT CAST(substr(CAST(${centsSql("o_totalprice")} AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit,
                  count(*) AS n_obs
                  FROM orders GROUP BY 1)
            SELECT digit, n_obs,
              (CASE digit $expMap ELSE CAST(0 AS BIGINT) END) AS expected_micro,
              (CASE digit $expMap ELSE CAST(0 AS BIGINT) END) * n.total
                AS expected_n_micro,
              n_obs * 1000000 - (CASE digit $expMap ELSE CAST(0 AS BIGINT) END)
                * n.total AS dev_micro
            FROM c, n"""
      }),

    // Multi-version change feed (Catalog.changeFeed): the Delta-CDF read
    // surface — keyed diffs of every adjacent retained pair in [0, 2] as
    // one frame, each row stamped with its producing _commit_version.
    // Three predicate-derivable versions give inserts+deletes+updates at
    // commit 1 and pure deletes at commit 2; the oracle recomputes every
    // change class from the predicates alone.
    QueryDef("q_x_change_feed",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s,
          tempRoot(catalogRoots, s, d, "graft-cat"), keepVersions = 10)
        if (!cat.exists("cdf_orders")) {
          val o = t(s, d, "orders")
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
          cat.write("cdf_orders", o.filter(col("o_orderkey") % 3 === 0))
          cat.write("cdf_orders", o.filter(col("o_orderkey") % 2 === 0)
            .withColumn("cents", col("cents") + col("o_orderkey") % 5))
          cat.write("cdf_orders",
            o.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 7 =!= 0)
              .withColumn("cents", col("cents") + col("o_orderkey") % 5))
        }
        cat.changeFeed("cdf_orders", 0, 2, "o_orderkey")
      },
      Some(s"""WITH o AS (SELECT o_orderkey AS k,
                 ${centsSql("o_totalprice")} AS c FROM orders)
               SELECT 'insert' AS op, k AS o_orderkey, c + k % 5 AS cents,
                      CAST(1 AS BIGINT) AS _commit_version
               FROM o WHERE k % 2 = 0 AND k % 3 <> 0
               UNION ALL
               SELECT 'delete', k, c, 1 FROM o WHERE k % 3 = 0 AND k % 2 <> 0
               UNION ALL
               SELECT 'update', k, c + k % 5, 1
               FROM o WHERE k % 6 = 0 AND k % 5 <> 0
               UNION ALL
               SELECT 'delete', k, c + k % 5, 2
               FROM o WHERE k % 2 = 0 AND k % 7 = 0""")),

    // Snapshot expiry / VACUUM (Catalog.expireVersions): 4 versions
    // written, explicit expiry keeps the newest 2 — retained reads (current
    // + time travel) must be byte-identical to the oracle's predicate
    // replay, the expired version must be PHYSICALLY unreadable (a soft
    // expiry that leaves files behind fails that column), and the version
    // list must shrink to exactly the kept window. Idempotent, so bench
    // re-runs see the same row.
    QueryDef("q_x_vacuum",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s,
          tempRoot(catalogRoots, s, d, "graft-cat"), keepVersions = 10)
        if (!cat.exists("vac_orders")) (1 to 4).foreach { i =>
          cat.write("vac_orders", t(s, d, "orders")
            .filter(col("o_orderkey") % 10 < i * 2)
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents")))
        }
        cat.expireVersions("vac_orders", keepLast = 2)
        val vs = cat.versions("vac_orders")
        val expiredUnreadable =
          try { cat.readVersion("vac_orders", 0).count(); false }
          catch { case _: Exception => true }
        cat.read("vac_orders")
          .agg(count(lit(1)).as("n_current"), sum(col("cents")).as("cents_current"))
          .crossJoin(cat.readVersion("vac_orders", vs.head)
            .agg(count(lit(1)).as("n_oldest_kept"),
              sum(col("cents")).as("cents_oldest_kept")))
          .withColumn("n_versions", lit(vs.size.toLong))
          .withColumn("v_low", lit(vs.head))
          .withColumn("v_high", lit(vs.last))
          .withColumn("expired_unreadable", lit(expiredUnreadable))
      },
      Some(s"""SELECT
                 (SELECT count(*) FROM orders WHERE o_orderkey % 10 < 8)
                   AS n_current,
                 (SELECT CAST(sum(${centsSql("o_totalprice")}) AS BIGINT)
                  FROM orders WHERE o_orderkey % 10 < 8) AS cents_current,
                 (SELECT count(*) FROM orders WHERE o_orderkey % 10 < 6)
                   AS n_oldest_kept,
                 (SELECT CAST(sum(${centsSql("o_totalprice")}) AS BIGINT)
                  FROM orders WHERE o_orderkey % 10 < 6) AS cents_oldest_kept,
                 CAST(2 AS BIGINT) AS n_versions,
                 CAST(2 AS BIGINT) AS v_low,
                 CAST(3 AS BIGINT) AS v_high,
                 true AS expired_unreadable""")),

    // Incremental aggregate maintenance: daily revenue built by folding 4
    // disjoint order batches into a catalog-stored aggregate, one
    // O(batch + groups) refresh each — never a history re-scan. The oracle
    // recomputes from scratch over ALL orders, so any merge defect (lost
    // batch, double count, key mixup) fails the hash.
    QueryDef("q_x_incremental_agg",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(catalogRoots, s, d, "graft-cat"))
        if (!cat.exists("daily_rev")) (0 until 4).foreach { i =>
          graft.ops.IncrementalAgg.refresh(cat, "daily_rev",
            t(s, d, "orders").filter(col("o_orderkey") % 4 === i)
              .select(col("o_orderdate"), cents(col("o_totalprice")).as("rev_cents")),
            keys = Seq("o_orderdate"), sumCols = Seq("rev_cents"))
        }
        cat.read("daily_rev").select(col("o_orderdate"), col("n_rows"),
          col("rev_cents_sum").as("rev_cents"))
      },
      Some(s"""SELECT o_orderdate, count(*) AS n_rows,
               CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_cents
               FROM orders GROUP BY o_orderdate""")),

    // k-anonymity audit (operators.Privacy): equivalence-class census over
    // the (nation, segment, coarse-balance) quasi-identifiers — classes
    // below k=5, rows at risk, and the dataset's actual anonymity level.
    // The record-level privacy companion to text PII redaction.
    QueryDef("q_x_k_anonymity",
      (s, d) => graft.operators.Privacy.kAnonymityAudit(
        t(s, d, "customer").withColumn("bal_band",
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), 5L),
      Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal/1000) AS BIGINT) AS bal_band,
                count(*) AS class_size
                FROM customer GROUP BY 1, 2, 3)
              SELECT count(*) AS n_classes,
                CAST(count(*) FILTER (WHERE class_size < 5) AS BIGINT) AS n_small_classes,
                CAST(COALESCE(sum(class_size) FILTER (WHERE class_size < 5), 0) AS BIGINT)
                  AS n_rows_at_risk,
                min(class_size) AS k_actual
              FROM cls""")),

    // Copy-on-write DELETE (Catalog.deleteWhere): the right-to-be-forgotten
    // verb — ONE predicate-pruned scan finds the files holding matches,
    // only those rewrite, untouched files carry into the new version by
    // manifest reference. Gate reads the surviving table back; the oracle
    // re-derives the survivors from the source (NULL predicates survive).
    QueryDef("q_x_delete_where",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(deleteRoots, s, d, "graft-del"))
        if (!cat.exists("customers_gdpr")) {
          cat.write("customers_gdpr",
            t(s, d, "customer")
              .select(col("c_custkey"), col("c_mktsegment"),
                cents(col("c_acctbal")).as("bal_cents"))
              .repartitionByRange(8, col("c_custkey")))
          cat.deleteWhere("customers_gdpr",
            col("c_mktsegment") === "BUILDING" && col("c_custkey") % 10 === 3)
        }
        cat.read("customers_gdpr").select(col("c_custkey"), col("bal_cents"))
      },
      Some(s"""SELECT c_custkey, ${centsSql("c_acctbal")} AS bal_cents
               FROM customer
               WHERE NOT (c_mktsegment = 'BUILDING' AND c_custkey % 10 = 3)
                  OR (c_mktsegment = 'BUILDING' AND c_custkey % 10 = 3) IS NULL""")),

    // Merge-on-read DELETE (Catalog.deleteWhereMor): tombstone the matched
    // keys (O(keys) write, no file rewrite), apply at read time by
    // anti-join; compactMor pays the rewrite once, scheduled. The gate
    // tombstones one segment slice, reads THROUGH the tombstones, compacts,
    // deletes a second slice MOR, and reads again — so the hashed result
    // witnesses tombstone application, compaction, AND post-compaction
    // tombstones composing on one table.
    QueryDef("q_x_delete_mor",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(deleteRoots, s, d, "graft-del"))
        if (!cat.exists("customers_mor")) {
          cat.write("customers_mor",
            t(s, d, "customer")
              .select(col("c_custkey"), col("c_mktsegment"),
                cents(col("c_acctbal")).as("bal_cents"))
              .repartitionByRange(8, col("c_custkey")))
          cat.deleteWhereMor("customers_mor",
            col("c_mktsegment") === "AUTOMOBILE" && col("c_custkey") % 10 === 7,
            "c_custkey")
          cat.compactMor("customers_mor")
          cat.deleteWhereMor("customers_mor",
            col("c_mktsegment") === "MACHINERY" && col("c_custkey") % 10 === 1,
            "c_custkey")
        }
        cat.readMor("customers_mor").select(col("c_custkey"), col("bal_cents"))
      },
      Some(s"""SELECT c_custkey, ${centsSql("c_acctbal")} AS bal_cents
               FROM customer
               WHERE NOT (c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7)
                 AND NOT (c_mktsegment = 'MACHINERY' AND c_custkey % 10 = 1)""")),

    // Copy-on-write MERGE upsert (Catalog.merge): one batch updates every
    // key ≡0 mod 5 (matched rows whose key ≡0 mod 20 DELETE instead —
    // SQL MERGE's WHEN MATCHED AND pred THEN DELETE arm), and inserts
    // shifted keys for ≡0 mod 50. Inserts land regardless of the delete
    // predicate (it guards the MATCHED arm only). Only files holding
    // matched keys rewrite; the rest carry by manifest reference.
    QueryDef("q_x_merge_upsert",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(mergeRoots, s, d, "graft-mrg"))
        if (!cat.exists("customers_merge")) {
          val base = t(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment"),
              cents(col("c_acctbal")).as("bal_cents"))
          cat.write("customers_merge", base.repartitionByRange(8, col("c_custkey")))
          val src = base.filter(col("c_custkey") % 5 === 0)
            .select(col("c_custkey"), lit("MERGED").as("c_mktsegment"),
              (col("bal_cents") + 111L).as("bal_cents"))
            .unionByName(base.filter(col("c_custkey") % 50 === 0)
              .select((col("c_custkey") + 1000000000L).as("c_custkey"),
                lit("INSERTED").as("c_mktsegment"), lit(4242L).as("bal_cents")))
          cat.merge("customers_merge", src, "c_custkey",
            whenMatchedDelete = Some(col("c_custkey") % 20 === 0))
        }
        cat.read("customers_merge")
      },
      Some(s"""WITH base AS (SELECT c_custkey, c_mktsegment,
                 ${centsSql("c_acctbal")} AS bal_cents FROM customer),
               src AS (
                 SELECT c_custkey, 'MERGED' AS c_mktsegment,
                        bal_cents + 111 AS bal_cents
                 FROM base WHERE c_custkey % 5 = 0
                 UNION ALL
                 SELECT c_custkey + 1000000000, 'INSERTED', 4242
                 FROM base WHERE c_custkey % 50 = 0)
               SELECT b.* FROM base b
               WHERE b.c_custkey NOT IN (SELECT c_custkey FROM src)
               UNION ALL
               SELECT s.* FROM src s
               WHERE s.c_custkey IN (SELECT c_custkey FROM base)
                 AND NOT s.c_custkey % 20 = 0
               UNION ALL
               SELECT s.* FROM src s
               WHERE s.c_custkey NOT IN (SELECT c_custkey FROM base)""")),

    // l-diversity audit: k-anonymity's homogeneity-attack companion —
    // classes whose members all share the sensitive value leak it even at
    // class size ≥ k. Census over (nation, balance-band) classes against
    // the market-segment sensitive column.
    QueryDef("q_x_l_diversity",
      (s, d) => graft.operators.Privacy.lDiversityAudit(
        t(s, d, "customer").withColumn("bal_band",
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", 3L),
      Some("""WITH cls AS (SELECT c_nationkey,
                CAST(floor(c_acctbal/1000) AS BIGINT) AS bal_band,
                count(*) AS class_size,
                count(DISTINCT c_mktsegment) AS n_sensitive
                FROM customer GROUP BY 1, 2)
              SELECT count(*) AS n_classes,
                CAST(count(*) FILTER (WHERE n_sensitive < 3) AS BIGINT) AS n_homogeneous,
                CAST(COALESCE(sum(class_size) FILTER (WHERE n_sensitive < 3), 0) AS BIGINT)
                  AS n_rows_at_risk,
                min(n_sensitive) AS l_actual
              FROM cls""")),

    // t-closeness (the third release-hygiene leg): per segment, exact-
    // integer EMD between the class's account-balance-band distribution
    // and the global one — ordered-category EMD as the mean absolute
    // cumulative gap, cross-multiplied so every compared value is a
    // BIGINT and the ppm score replays bit-identically.
    QueryDef("q_x_t_closeness",
      (s, d) => graft.operators.Privacy.tClosenessAudit(
        t(s, d, "customer")
          .select(col("c_mktsegment"),
            expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band")),
        Seq("c_mktsegment"), "bal_band", tPpm = 100000L),
      Some("""WITH base AS (SELECT c_mktsegment,
                CAST(floor(c_acctbal/1000) AS BIGINT) AS bb FROM customer),
              g AS (SELECT bb, count(*) AS g_b FROM base GROUP BY 1),
              gc AS (SELECT bb, sum(g_b) OVER (ORDER BY bb) AS cum_g FROM g),
              nn AS (SELECT count(*) AS n FROM base),
              mm AS (SELECT count(DISTINCT bb) AS m FROM base),
              cls AS (SELECT c_mktsegment, bb, count(*) AS c_b
                      FROM base GROUP BY 1, 2),
              grid AS (SELECT s.c_mktsegment, g.bb, COALESCE(c.c_b, 0) AS c_b
                       FROM (SELECT DISTINCT c_mktsegment FROM base) s
                       CROSS JOIN g
                       LEFT JOIN cls c ON c.c_mktsegment = s.c_mktsegment
                                      AND c.bb = g.bb),
              cc AS (SELECT c_mktsegment, bb, c_b,
                       sum(c_b) OVER (PARTITION BY c_mktsegment ORDER BY bb)
                         AS cum_c FROM grid),
              nc AS (SELECT c_mktsegment, sum(c_b) AS n_class
                     FROM grid GROUP BY 1),
              d AS (SELECT cc.c_mktsegment, nc.n_class, nn.n,
                      sum(abs(cum_c * nn.n - gc.cum_g * nc.n_class)) AS d_sum
                    FROM cc JOIN gc USING (bb)
                         JOIN nc ON cc.c_mktsegment = nc.c_mktsegment, nn
                    GROUP BY 1, 2, 3)
              SELECT c_mktsegment, CAST(n_class AS BIGINT) AS n_class,
                CAST((d_sum * 1000000) // (greatest(mm.m - 1, 1) * n_class * n)
                  AS BIGINT) AS emd_ppm,
                ((d_sum * 1000000) // (greatest(mm.m - 1, 1) * n_class * n))
                  <= 100000 AS t_ok
              FROM d, mm""")),

    // Suppression enforcement: the surviving keys after dropping every row
    // in a sub-k class — the released table is k-anonymous by construction
    // (NULL-safe class membership; a large all-NULL class survives).
    QueryDef("q_x_k_anon_suppress",
      (s, d) => graft.operators.Privacy.suppressSmallClasses(
          t(s, d, "customer").withColumn("bal_band",
            expr("CAST(floor(c_acctbal / 1000) AS BIGINT)")),
          Seq("c_nationkey", "c_mktsegment", "bal_band"), 5L)
        .select(col("c_custkey")),
      Some("""SELECT c_custkey FROM (
                SELECT c_custkey, count(*) OVER (PARTITION BY c_nationkey,
                  c_mktsegment, CAST(floor(c_acctbal/1000) AS BIGINT)) AS cs
                FROM customer)
              WHERE cs >= 5""")),

    // ANALYZE-style column statistics (ops.Validator.columnStats): one
    // aggregate scan → per-column min/max/nulls/exact-NDV rows — the
    // optimizer-stats surface (NDVs feed join sizing, min/max feed
    // zone-map pruning). String/bigint/timestamp columns only: float
    // min/max would hit engine text-format differences.
    QueryDef("q_x_column_stats",
      (s, d) => graft.ops.Validator.columnStats(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")),
      Some("""SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
                CAST(min(o_orderkey) AS VARCHAR) AS min_value,
                CAST(max(o_orderkey) AS VARCHAR) AS max_value,
                CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
              FROM orders
              UNION ALL
              SELECT 'o_custkey', count(*), CAST(min(o_custkey) AS VARCHAR),
                CAST(max(o_custkey) AS VARCHAR),
                CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
                CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
              UNION ALL
              SELECT 'o_orderstatus', count(*), CAST(min(o_orderstatus) AS VARCHAR),
                CAST(max(o_orderstatus) AS VARCHAR),
                CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
                CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
              UNION ALL
              SELECT 'o_orderdate', count(*), CAST(min(o_orderdate) AS VARCHAR),
                CAST(max(o_orderdate) AS VARCHAR),
                CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
                CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders""")),

    // Equal-frequency decile binning (QualityFilter.equalFrequencyBins):
    // 9 exact percentile cutoffs broadcast into a map-side bin id — the
    // scale-safe feature discretization (a global ntile would sort the
    // corpus on one task and split ties irreproducibly). Binned on exact
    // integer cents; per-bin count/min/max out.
    QueryDef("q_x_feature_binning",
      (s, d) => graft.operators.QualityFilter.equalFrequencyBins(
          t(s, d, "orders").select(cents(col("o_totalprice")).as("price_cents")),
          "price_cents", 10)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("price_cents")).as("min_cents"),
          max(col("price_cents")).as("max_cents")),
      Some(s"""WITH b AS (SELECT ${centsSql("o_totalprice")} AS p FROM orders),
               c AS (SELECT quantile_cont(p, [0.1, 0.2, 0.3, 0.4, 0.5,
                                              0.6, 0.7, 0.8, 0.9]) AS cuts FROM b),
               binned AS (SELECT p,
                 CAST(1 + len(list_filter(cuts, x -> p > x)) AS BIGINT) AS bin
                 FROM b, c)
               SELECT bin, count(*) AS n_orders,
                 CAST(min(p) AS BIGINT) AS min_cents,
                 CAST(max(p) AS BIGINT) AS max_cents
               FROM binned GROUP BY 1""")),

    // Leave-one-out target encoding (Encoders.targetEncodeLoo): each
    // order's priority encoded as the category's mean price EXCLUDING the
    // order itself — the leakage-safe categorical encoder (numerator/
    // denominator exact BIGINTs, one IEEE division per row; singleton
    // categories encode NULL). One category-sized aggregate broadcast back.
    QueryDef("q_x_target_encode",
      (s, d) => graft.operators.Encoders.targetEncodeLoo(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
            cents(col("o_totalprice")).as("price_cents")),
          "o_orderpriority", "price_cents")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("price_cents"), col("loo_mean")),
      Some(s"""WITH v AS (SELECT o_orderkey, o_orderpriority,
                 ${centsSql("o_totalprice")} AS price_cents FROM orders),
               st AS (SELECT o_orderpriority, sum(price_cents) AS s,
                        count(price_cents) AS n FROM v GROUP BY 1)
               SELECT o_orderkey, o_orderpriority, price_cents,
                 CASE WHEN n > 1 AND price_cents IS NOT NULL
                   THEN CAST(s - price_cents AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                 END AS loo_mean
               FROM v JOIN st USING (o_orderpriority)""")),

    // Winsorization at exact [P1, P99] type-1 order statistics
    // (QualityFilter.winsorize): outliers clamp to data-valued cut points
    // (ceiling-rank ⌈n·q⌉-th smallest — pure integer arithmetic end to
    // end, no interpolated percentile to disagree in the last ulp). Every
    // row survives with its clamped value + the cuts it was clamped to.
    QueryDef("q_x_winsorize",
      (s, d) => graft.operators.QualityFilter.winsorize(
          t(s, d, "orders").select(col("o_orderkey"),
            cents(col("o_totalprice")).as("price_cents")),
          "price_cents", 1L, 99L, 100L)
        .select(col("o_orderkey"), col("price_cents"),
          col("lo_cut"), col("hi_cut"), col("price_cents_w")),
      Some(s"""WITH v AS (SELECT o_orderkey,
                 ${centsSql("o_totalprice")} AS price_cents FROM orders),
               n AS (SELECT count(*) AS n FROM v WHERE price_cents IS NOT NULL),
               h AS (SELECT price_cents AS val, count(*) AS c FROM v
                     WHERE price_cents IS NOT NULL GROUP BY 1),
               cum AS (SELECT val, sum(c) OVER (ORDER BY val) AS cum FROM h),
               cuts AS (SELECT
                 min(CASE WHEN cum >= (n * 1 + 99) // 100 THEN val END) AS lo_cut,
                 min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN val END) AS hi_cut
                 FROM cum, n)
               SELECT o_orderkey, price_cents, lo_cut, hi_cut,
                 CASE WHEN price_cents IS NULL THEN NULL
                      ELSE least(greatest(price_cents, lo_cut), hi_cut)
                 END AS price_cents_w
               FROM v, cuts""")),

    // Per-group winsorization: each order priority clamps at its OWN
    // [P5, P95] ceiling-rank order statistics (a global clamp would be
    // majority-class-dominated) — all integer arithmetic, group cuts
    // derived in one histogram + grouped cumulative window.
    QueryDef("q_x_winsorize_grouped",
      (s, d) => graft.operators.QualityFilter.winsorizeGrouped(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
            cents(col("o_totalprice")).as("price_cents")),
          "o_orderpriority", "price_cents", 5L, 95L, 100L)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("price_cents"), col("lo_cut"), col("hi_cut"),
          col("price_cents_w")),
      Some(s"""WITH v AS (SELECT o_orderkey, o_orderpriority,
                 ${centsSql("o_totalprice")} AS m FROM orders),
               h AS (SELECT o_orderpriority, m AS val, count(*) AS c FROM v
                     WHERE m IS NOT NULL GROUP BY 1, 2),
               cum AS (SELECT o_orderpriority, val,
                 sum(c) OVER (PARTITION BY o_orderpriority ORDER BY val) AS cum,
                 sum(c) OVER (PARTITION BY o_orderpriority) AS n FROM h),
               cuts AS (SELECT o_orderpriority,
                 min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN val END) AS lo_cut,
                 min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN val END) AS hi_cut
                 FROM cum GROUP BY 1)
               SELECT o_orderkey, o_orderpriority, m AS price_cents,
                 lo_cut, hi_cut,
                 CASE WHEN m IS NULL THEN NULL
                      ELSE least(greatest(m, lo_cut), hi_cut) END AS price_cents_w
               FROM v JOIN cuts USING (o_orderpriority)""")),

    // Unpivot/melt (the relational wide→long reshape, Spark's native
    // Dataset.unpivot): the pricing-summary wide aggregate melted into
    // (l_returnflag, metric, value) rows — exact integer cents so the
    // value column hash-matches.
    QueryDef("q_x_unpivot",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_quantity"))).as("qty_cents"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty_cents"), col("price_cents")), "metric", "value"),
      Some(s"""WITH w AS (SELECT l_returnflag,
                CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents,
                CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents
              FROM lineitem GROUP BY 1)
              SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS value FROM w
              UNION ALL
              SELECT l_returnflag, 'price_cents', price_cents FROM w""")),

    // Pearson correlation from EXACT integer moments (operators.Trend): one
    // aggregate scan accumulates decimal(38,0) sums for all three column
    // pairs; r is assembled driver-side with each exact moment cast to
    // double once and a pinned association — engine-native corr() sums
    // doubles and is not cross-engine reproducible, this is.
    // Two-regressor OLS fit (Trend.olsFit2): price ~ quantity + discount
    // via exact normal equations — 1-row integer moment vector, Cramer
    // determinants in exact 128-bit arithmetic, one double rounding per
    // determinant, one IEEE division per coefficient (the multi-feature
    // sibling of q_x_trend's per-key slope).
    QueryDef("q_x_ols_fit",
      (s, d) => graft.operators.Trend.olsFit2(
        t(s, d, "lineitem"),
        cents(col("l_extendedprice")),
        expr("CAST(l_quantity AS BIGINT)"),
        expr("CAST(round(l_discount*100, 0) AS BIGINT)")),
      Some(s"""WITH b AS (SELECT ${centsSql("l_extendedprice")} AS y,
                 CAST(l_quantity AS BIGINT) AS x1,
                 CAST(round(l_discount*100, 0) AS BIGINT) AS x2 FROM lineitem),
               m AS (SELECT count(*) AS n,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
                 sum(CAST(x1 AS HUGEINT)*x1) AS s11, sum(CAST(x2 AS HUGEINT)*x2) AS s22,
                 sum(CAST(x1 AS HUGEINT)*x2) AS s12,
                 sum(CAST(x1 AS HUGEINT)*y) AS s1y, sum(CAST(x2 AS HUGEINT)*y) AS s2y
                 FROM b),
               dets AS (SELECT n,
                 CAST(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
                   + s2*(s1*s12 - s11*s2) AS DOUBLE) AS dd,
                 CAST(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
                   + s2*(s1y*s12 - s11*s2y) AS DOUBLE) AS d0,
                 CAST(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
                   + s2*(s1*s2y - s1y*s2) AS DOUBLE) AS d1,
                 CAST(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
                   + sy*(s1*s12 - s11*s2) AS DOUBLE) AS d2
                 FROM m)
               SELECT n,
                 CASE WHEN dd <> 0 THEN d0/dd END AS b0,
                 CASE WHEN dd <> 0 THEN d1/dd END AS b1,
                 CASE WHEN dd <> 0 THEN d2/dd END AS b2
               FROM dets""")),

    QueryDef("q_x_correlation",
      (s, d) => {
        val li = t(s, d, "lineitem")
        graft.operators.Trend.correlation(li.select(
            cents(col("l_quantity")).as("q"),
            cents(col("l_extendedprice")).as("p"),
            cents(col("l_discount")).as("disc")),
          Seq((col("q"), "l_quantity", col("p"), "l_extendedprice"),
            (col("q"), "l_quantity", col("disc"), "l_discount"),
            (col("p"), "l_extendedprice", col("disc"), "l_discount")))
      },
      Some(s"""WITH b AS (SELECT ${centsSql("l_quantity")} AS q,
                 ${centsSql("l_extendedprice")} AS p,
                 ${centsSql("l_discount")} AS disc FROM lineitem),
               m AS (SELECT count(*) AS n,
                 sum(CAST(q AS HUGEINT)) AS sq, sum(CAST(p AS HUGEINT)) AS sp,
                 sum(CAST(disc AS HUGEINT)) AS sd,
                 sum(CAST(q AS HUGEINT)*q) AS sqq, sum(CAST(p AS HUGEINT)*p) AS spp,
                 sum(CAST(disc AS HUGEINT)*disc) AS sdd,
                 sum(CAST(q AS HUGEINT)*p) AS sqp, sum(CAST(q AS HUGEINT)*disc) AS sqd,
                 sum(CAST(p AS HUGEINT)*disc) AS spd
                 FROM b),
               r AS (SELECT n,
                 CAST(n*sqp - sq*sp AS DOUBLE) AS nqp,
                 CAST(n*sqd - sq*sd AS DOUBLE) AS nqd,
                 CAST(n*spd - sp*sd AS DOUBLE) AS npd,
                 CAST(n*sqq - sq*sq AS DOUBLE) AS dq,
                 CAST(n*spp - sp*sp AS DOUBLE) AS dp,
                 CAST(n*sdd - sd*sd AS DOUBLE) AS dd
                 FROM m)
               SELECT 'l_quantity' AS x_col, 'l_extendedprice' AS y_col,
                 CAST(n AS BIGINT) AS n,
                 CASE WHEN n = 0 OR dq = 0 OR dp = 0 THEN NULL
                      ELSE nqp / sqrt(dq * dp) END AS r FROM r
               UNION ALL
               SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
                 CASE WHEN n = 0 OR dq = 0 OR dd = 0 THEN NULL
                      ELSE nqd / sqrt(dq * dd) END FROM r
               UNION ALL
               SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
                 CASE WHEN n = 0 OR dp = 0 OR dd = 0 THEN NULL
                      ELSE npd / sqrt(dp * dd) END FROM r""")),

    // Spearman ρ (monotone association, outlier-robust): exact-moment
    // Pearson over DOUBLED tie-averaged ranks (2·rank is an exact BIGINT;
    // correlation is scale-invariant). The Spark side derives ranks via the
    // two-level bucketed prefix sum — the oracle's global rank() window is
    // the semantic, not the algorithm.
    QueryDef("q_x_spearman",
      (s, d) => graft.operators.Trend.spearman(
        t(s, d, "lineitem").select(
          cents(col("l_quantity")).as("q"), cents(col("l_extendedprice")).as("p")),
        "q", "p", "l_quantity", "l_extendedprice"),
      Some(s"""WITH b AS (SELECT ${centsSql("l_quantity")} AS x,
                 ${centsSql("l_extendedprice")} AS y FROM lineitem),
               r2 AS (SELECT
                   2*(rank() OVER (ORDER BY x))
                     + (count(*) OVER (PARTITION BY x)) - 1 AS rx2,
                   2*(rank() OVER (ORDER BY y))
                     + (count(*) OVER (PARTITION BY y)) - 1 AS ry2
                 FROM b),
               m AS (SELECT count(*) AS n,
                 sum(CAST(rx2 AS HUGEINT)) AS sx, sum(CAST(ry2 AS HUGEINT)) AS sy,
                 sum(CAST(rx2 AS HUGEINT)*ry2) AS sxy,
                 sum(CAST(rx2 AS HUGEINT)*rx2) AS sxx,
                 sum(CAST(ry2 AS HUGEINT)*ry2) AS syy FROM r2),
               r AS (SELECT n, CAST(n*sxy - sx*sy AS DOUBLE) AS num,
                 CAST(n*sxx - sx*sx AS DOUBLE) AS dx,
                 CAST(n*syy - sy*sy AS DOUBLE) AS dy FROM m)
               SELECT 'l_quantity' AS x_col, 'l_extendedprice' AS y_col,
                 CAST(n AS BIGINT) AS n,
                 CASE WHEN n = 0 OR dx = 0 OR dy = 0 THEN NULL
                      ELSE num / sqrt(dx * dy) END AS rho FROM r""")),

    // Declarative expectation suite (ops.Expectations): the data-quality
    // battery as data — six row-level constraints evaluated in ONE scan of
    // orders (single conditional-count aggregate), plus key-uniqueness and
    // referential-integrity rows. One monitoring constraint
    // (price_above_400k) deliberately fires so nonzero counts are exercised.
    QueryDef("q_x_expectations",
      (s, d) => {
        import graft.ops.Expectations._
        val orders = t(s, d, "orders")
        val rowLevel = check(orders, Seq(
          notNull("nn_orderkey", col("o_orderkey")),
          inSet("status_domain", col("o_orderstatus"), Seq("O", "F", "P")),
          inRange("price_range", col("o_totalprice"), lit(1.0), lit(600000.0)),
          inRange("price_above_400k", col("o_totalprice"), lit(0.0), lit(400000.0)),
          matches("priority_format", col("o_orderpriority"), "^[1-5]-[A-Z ]+$"),
          inRange("date_range", col("o_orderdate"),
            lit("1990-01-01").cast("timestamp"), lit("2005-12-31").cast("timestamp"))))
        suite(rowLevel, Seq(
          unique(orders, "unique_orderkey", Seq("o_orderkey")),
          foreignKey(orders, "fk_custkey", "o_custkey",
            t(s, d, "customer"), "c_custkey")))
      },
      Some("""SELECT 'nn_orderkey' AS "constraint",
                CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_violations,
                count(*) FILTER (WHERE o_orderkey IS NULL) = 0 AS pass FROM orders
              UNION ALL
              SELECT 'status_domain',
                CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                  OR o_orderstatus IS NULL) AS BIGINT),
                count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                  OR o_orderstatus IS NULL) = 0 FROM orders
              UNION ALL
              SELECT 'price_range',
                CAST(count(*) FILTER (WHERE NOT (o_totalprice >= 1 AND o_totalprice <= 600000)
                  OR o_totalprice IS NULL) AS BIGINT),
                count(*) FILTER (WHERE NOT (o_totalprice >= 1 AND o_totalprice <= 600000)
                  OR o_totalprice IS NULL) = 0 FROM orders
              UNION ALL
              SELECT 'price_above_400k',
                CAST(count(*) FILTER (WHERE NOT (o_totalprice >= 0 AND o_totalprice <= 400000)
                  OR o_totalprice IS NULL) AS BIGINT),
                count(*) FILTER (WHERE NOT (o_totalprice >= 0 AND o_totalprice <= 400000)
                  OR o_totalprice IS NULL) = 0 FROM orders
              UNION ALL
              SELECT 'priority_format',
                CAST(count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                  OR o_orderpriority IS NULL) AS BIGINT),
                count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                  OR o_orderpriority IS NULL) = 0 FROM orders
              UNION ALL
              SELECT 'date_range',
                CAST(count(*) FILTER (WHERE NOT (o_orderdate >= TIMESTAMP '1990-01-01'
                  AND o_orderdate <= TIMESTAMP '2005-12-31') OR o_orderdate IS NULL) AS BIGINT),
                count(*) FILTER (WHERE NOT (o_orderdate >= TIMESTAMP '1990-01-01'
                  AND o_orderdate <= TIMESTAMP '2005-12-31') OR o_orderdate IS NULL) = 0 FROM orders
              UNION ALL
              SELECT 'unique_orderkey',
                CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
                count(*) = count(DISTINCT o_orderkey) FROM orders
              UNION ALL
              SELECT 'fk_custkey', CAST(count(*) AS BIGINT), count(*) = 0
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_custkey IS NULL""")),

    // F12 — identifier lower-casing (dynamic_upsert.py:92): the table is
    // WRITTEN under a mixed-case name and columns are read back with
    // different casing than stored; a case-sensitive catalog or resolver
    // would throw (no such table / no such column) and fail the gate.
    QueryDef("q_f12_identifier_case",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(catalogRoots, s, d, "graft-cat"))
        if (!cat.exists("Mixed_Case_Dim"))
          cat.write("MIXED_Case_Dim", t(s, d, "nation"))
        cat.read("mixed_case_dim")
          .select(col("N_NATIONKEY").cast("long").as("n_nationkey"),
            col("N_Name").as("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
              CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""")),

    // C5 end-to-end — the whole workflow dispatch (PipelineRunner.run) made
    // oracle-visible, not just spec-visible: five CSV loads (validate ×5),
    // three SCD2 dimension upserts, the generated date dimension, and the
    // fact build, audited as one row of cardinalities + exact fact revenue.
    // The pipeline runs ONCE per (session, sfDir) — SCD2 re-versions on
    // rerun, so repeated invocations must audit the single-run state.
    QueryDef("q_c5_pipeline_run",
      (s, d) => {
        val cat = CsvFixtures.pipelineCatalog(s, d)
        def n(tbl: String, as: String) = cat.read(tbl).agg(count(lit(1)).as(as))
        n("customers", "customers_rows")
          .crossJoin(n("products", "products_rows"))
          .crossJoin(n("stores", "stores_rows"))
          .crossJoin(n("orders", "orders_rows"))
          .crossJoin(n("orderdetails", "orderdetails_rows"))
          .crossJoin(n("dim_customers", "dim_customers_rows"))
          .crossJoin(n("dim_products", "dim_products_rows"))
          .crossJoin(n("dim_stores", "dim_stores_rows"))
          .crossJoin(n("dim_dates", "dim_dates_rows"))
          .crossJoin(cat.read("fact_orders").agg(
            count(lit(1)).as("fact_rows"),
            sum(cents(col("totalprice"))).as("rev_cents")))
      },
      // Mirrors the CsvFixtures mappings: dims are initial loads over
      // distinct-keyed sources (row counts = source counts), every fact row
      // resolves (storeid ∈ 0..24 = nation keys; orderdate inside the 731-day
      // dimension window; customer/product keys complete), so fact_rows =
      // the PK-deduped lineitem pairs and revenue is exact decimal cents.
      Some("""WITH od AS (SELECT l_orderkey, l_partkey,
                            CAST(min(l_quantity) AS INT) AS quantity,
                            CAST(CAST(l_partkey % 100000 AS DOUBLE)/100 AS DECIMAL(8,2)) AS unitprice
                          FROM lineitem GROUP BY l_orderkey, l_partkey)
              SELECT
                (SELECT count(*) FROM customer) AS customers_rows,
                (SELECT count(*) FROM part) AS products_rows,
                (SELECT count(*) FROM nation) AS stores_rows,
                (SELECT count(*) FROM orders) AS orders_rows,
                (SELECT count(*) FROM od) AS orderdetails_rows,
                (SELECT count(*) FROM customer) AS dim_customers_rows,
                (SELECT count(*) FROM part) AS dim_products_rows,
                (SELECT count(*) FROM nation) AS dim_stores_rows,
                CAST(731 AS BIGINT) AS dim_dates_rows,
                (SELECT count(*) FROM od) AS fact_rows,
                (SELECT CAST(sum(CAST(round(CAST(CAST(unitprice * quantity AS DECIMAL(8,2)) AS DOUBLE) * 100, 0) AS BIGINT)) AS BIGINT)
                 FROM od) AS rev_cents""")),

    // OPTIMIZE-style file compaction: the table is first written as many
    // tiny files (the streaming-ingest pathology), then Catalog.compact
    // rewrites it to 2 files in a NEW version (old version stays
    // time-travelable). The gate re-aggregates the compacted table — any
    // row lost/duplicated in the rewrite fails the hash; the small→few
    // file-count mechanics are asserted in CatalogSpec.
    QueryDef("q_x_compact_roundtrip",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(catalogRoots, s, d, "graft-cat"))
        if (!cat.exists("events_small_files")) {
          cat.write("events_small_files",
            events(s, d).select(col("event_id"), col("event_type"),
              cents(col("value")).as("v_cents")).repartition(64))
          cat.compact("events_small_files", 2)
        }
        cat.read("events_small_files")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("v_cents")).as("value_cents"),
            sum(col("event_id")).as("id_sum"))
      },
      Some(s"""SELECT event_type, count(*) AS n_events,
               CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents,
               CAST(sum(event_id) AS BIGINT) AS id_sum
               FROM events GROUP BY 1""")),

    // Additive schema evolution: a second batch arrives with a NEW column
    // (channel); appendEvolve widens the stored schema and null-fills the
    // historical rows — the contract a long-lived ingest table needs. The
    // oracle is the UNION of both batch shapes.
    QueryDef("q_x_schema_evolution",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(catalogRoots, s, d, "graft-cat"))
        if (!cat.exists("orders_evolving")) {
          val o = t(s, d, "orders")
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("rev_cents"))
          cat.write("orders_evolving", o.filter(col("o_orderkey") % 2 === 0))
          cat.appendEvolve("orders_evolving",
            o.filter(col("o_orderkey") % 2 === 1)
              .withColumn("channel", lit("web")))
        }
        cat.read("orders_evolving")
      },
      Some(s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS rev_cents,
                      CAST(NULL AS VARCHAR) AS channel
               FROM orders WHERE o_orderkey % 2 = 0
               UNION ALL
               SELECT o_orderkey, ${centsSql("o_totalprice")}, 'web'
               FROM orders WHERE o_orderkey % 2 = 1"""))
  ) :+ pipelineAudit

  /** C5 capstone: one audit row over the whole pipeline — source rows, dim
    * cardinality, fact rows, exact fact revenue. The oracle nests the full
    * fact CTE as subqueries. */
  private lazy val pipelineAudit = QueryDef("q_c5_pipeline_audit",
    (s, d) => {
      val fact = factBuild(s, d)
      val sums = fact.agg(count(lit(1)).as("fact_rows"),
        sum(cents(col("totalprice"))).as("rev_cents"))
      val srcRows = t(s, d, "customer").agg(count(lit(1)).as("src_rows"))
      val dimRows = Scd2Upsert.initialLoad(
          t(s, d, "customer").withColumnRenamed("c_custkey", "customerid"),
          custSpec.copy(businessKey = "customerid"), run1)
        .agg(count(lit(1)).as("dim_rows"))
      srcRows.crossJoin(dimRows).crossJoin(sums)
    },
    Some(s"""SELECT
             (SELECT count(*) FROM customer) AS src_rows,
             (SELECT count(*) FROM (SELECT DISTINCT $scdCols FROM customer)) AS dim_rows,
             (SELECT count(*) FROM ($factOracle)) AS fact_rows,
             (SELECT CAST(sum(CAST(round(totalprice * 100, 0) AS BIGINT)) AS BIGINT)
              FROM ($factOracle)) AS rev_cents"""))

  /** TPC-H→reference column mapping for the fact build (FIXTURES.md §B):
    * orders(o_orderkey,o_custkey,o_orderdate) is Orders; lineitem is
    * OrderDetails with l_partkey→ProductID, l_suppkey→StoreID,
    * l_extendedprice→UnitPrice. */
  private def factInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val orders = t(s, d, "orders").select(
      col("o_orderkey").as("orderid"), col("o_custkey").as("customerid"),
      to_date(col("o_orderdate")).as("orderdate"))
    val details = t(s, d, "lineitem").select(
      col("l_orderkey").as("orderid"), col("l_partkey").as("productid"),
      col("l_suppkey").as("storeid"), col("l_quantity").as("quantity"),
      col("l_extendedprice").cast("decimal(12,2)").as("unitprice"))
    (orders, details)
  }

  private def dims(s: SparkSession, d: String, dimCust: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dimPart = Scd2Upsert.initialLoad(
      t(s, d, "part").withColumnRenamed("p_partkey", "productid"), partSpec.copy(businessKey = "productid"), run1)
    val dimSupp = Scd2Upsert.initialLoad(
      t(s, d, "supplier").withColumnRenamed("s_suppkey", "storeid"), suppSpec.copy(businessKey = "storeid"), run1)
    val dates = DateDimension.build(s, Date.valueOf("1995-01-01"), Date.valueOf("2001-12-31"))
    (dimCust, dimPart, dimSupp, dates)
  }

  private def factBuild(s: SparkSession, d: String): DataFrame = {
    val dimCust = Scd2Upsert.initialLoad(
      t(s, d, "customer").withColumnRenamed("c_custkey", "customerid"),
      custSpec.copy(businessKey = "customerid"), run1)
    factJoin(s, d, dimCust)
  }

  private def factJoin(s: SparkSession, d: String, dimCustRaw: DataFrame): DataFrame = {
    val (orders, details) = factInputs(s, d)
    factJoinFrom(s, d, orders, details, dimCustRaw)
  }

  /** Fact join over INJECTED orders/details frames — lets the bucketed twin
    * feed co-bucketed catalog tables through the identical build. */
  private def factJoinFrom(s: SparkSession, d: String, orders: DataFrame,
      details: DataFrame, dimCustRaw: DataFrame): DataFrame = {
    val dimCust = dimCustRaw.withColumnRenamed("c_custkey", "customerid")
    val (dc, dp, dsup, dates) = dims(s, d, dimCust)
    FactBuilder.build(orders, details, dc, dsup, dp, dates,
        custSpec.copy(businessKey = "customerid"),
        suppSpec.copy(businessKey = "storeid"),
        partSpec.copy(businessKey = "productid"),
        totalPriceType = "decimal(14,2)")
      .select(col("orderid"), col("customerkey"), col("storekey"), col("productkey"),
        col("quantity"), col("unitprice").cast("double").as("unitprice"),
        col("totalprice").cast("double").as("totalprice"), col("orderdateid"))
  }

  /** Oracle CTEs shared by the two fact queries; `dimcDef` supplies the
    * customer-dim CTE (initial-load keys vs post-rerun keys). */
  private def factOracleWith(dimcDef: String): String =
    s"""WITH $dimcDef,
        dimp AS (SELECT row_number() OVER (ORDER BY p_partkey) AS productkey, p_partkey
                 FROM (SELECT DISTINCT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part)),
        dims AS (SELECT row_number() OVER (ORDER BY s_suppkey) AS storekey, s_suppkey
                 FROM (SELECT DISTINCT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier)),
        dates AS (SELECT i + 1 AS datekey, DATE '1995-01-01' + CAST(i AS INT) AS date FROM range(2557) t(i)),
        staged AS (SELECT o_orderkey AS orderid, o_custkey, l_partkey, l_suppkey,
                     l_quantity AS quantity,
                     CAST(l_extendedprice AS DECIMAL(12,2)) AS unitprice,
                     CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * l_quantity AS DECIMAL(14,2)) AS totalprice,
                     CAST(o_orderdate AS DATE) AS orderdate
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        SELECT orderid, customerkey, storekey, productkey, quantity,
        CAST(unitprice AS DOUBLE) AS unitprice, CAST(totalprice AS DOUBLE) AS totalprice,
        datekey AS orderdateid
        FROM staged
        JOIN dimc  ON o_custkey = c_custkey
        JOIN dims  ON l_suppkey = s_suppkey
        JOIN dimp  ON l_partkey = p_partkey
        JOIN dates ON orderdate = date"""

  private val factOracle = factOracleWith(
    s"""dimc AS (SELECT row_number() OVER (ORDER BY c_custkey) AS customerkey, c_custkey
        FROM (SELECT DISTINCT $scdCols FROM customer))""")

  /** After the re-run, current customer rows carry keys max+rn — the fact must
    * pick those up (current-version filter J3/P6). */
  private val factAfterRerunOracle = factOracleWith(
    s"""src AS (SELECT DISTINCT $scdCols FROM customer),
        dimc AS (SELECT (SELECT count(*) FROM src) + row_number() OVER (ORDER BY c_custkey) AS customerkey,
                 c_custkey FROM src)""")
}
