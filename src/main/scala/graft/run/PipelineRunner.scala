package graft.run

import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.Catalog
import graft.io.Sources
import graft.model.Schemas
import graft.ops._

/** C5: run dispatch, replacing the Glue workflow-property plumbing
  * (validate_data.py:90-113; dynamic_upsert.py:35-58; populate_fact.py:15-38).
  *
  * The reference routes each workflow run by a `table_name` run property:
  * every table goes through load+validate; `customers/products/stores`
  * additionally trigger the SCD2 dimension upsert (dynamic_upsert.py:95, with
  * a skip branch at :167-168); `orderdetails` additionally triggers the fact
  * build (populate_fact.py:74, skip at :151-152). AWS Secrets Manager / boto3 /
  * psycopg2 boundaries collapse into [[RunConfig]] (SURVEY.md §7.7).
  *
  * `runDate` is injected rather than read from `current_date` so reruns are
  * deterministic and testable (F7, SURVEY.md §7.5.5).
  */
final case class RunConfig(
    tableName: String,
    csvPath: String,                 // replaces s3://{bucket}/{key}
    runDate: Date,
    params: Map[String, String] = Map.empty
)

/** @param appendFact fact-table rerun semantics. The reference's
  * `INSERT INTO fact_orders` appends each run (populate_fact.py:117), so a
  * rerun of the orderdetails workflow ACCUMULATES duplicate fact rows;
  * `appendFact = true` reproduces that as-is behavior via [[Catalog.append]].
  * The default rebuilds the fact from current catalog state — a deliberate,
  * documented deviation (SURVEY.md §7.5.7): reruns are then idempotent,
  * which is what a recovery-driven rerun almost always wants. */
final class PipelineRunner(spark: SparkSession, catalog: Catalog,
    appendFact: Boolean = false) {

  /** One workflow run for one table: C1 always; then C2 or C3 by dispatch.
    * Every result lands in the catalog (eager parquet writes), so nothing
    * lazy escapes the run. */
  def run(cfg: RunConfig): Unit = {
    val table = cfg.tableName.toLowerCase   // Redshift lower-casing, F12
    val spec = Schemas.sourceTables.getOrElse(table,
      throw new IllegalArgumentException(s"Invalid table name: $table"))

    // C1: full-refresh load (TRUNCATE + COPY) + validation.
    val df = Sources.csv(spark, cfg.csvPath, spec)
    Validator.validate(df, spec, failFast = true)
    catalog.write(table, df)

    table match {
      case t if Schemas.scd2Dims.contains(t) => upsertDim(t, cfg.runDate)
      case "orderdetails" => populateFact()
      case _ => () // orders: load+validate only (reference skip branches)
    }
  }

  /** C2 for one dimension-backed source table. */
  def upsertDim(table: String, runDate: Date): Unit = {
    val spec = Schemas.scd2Dims(table)
    val source = catalog.read(table)
    val dim =
      if (catalog.exists(spec.dimName)) catalog.read(spec.dimName)
      else emptyDim(source, table, runDate)
    catalog.write(spec.dimName, Scd2Upsert.run(source, dim, spec, runDate))
  }

  private def emptyDim(source: DataFrame, table: String, runDate: Date): DataFrame = {
    val spec = Schemas.scd2Dims(table)
    Scd2Upsert.initialLoad(source, spec, runDate).limit(0)
  }

  /** C3: build/refresh fact_orders from ONE pinned snapshot of all six
    * input tables — a concurrent dim swap while the (long) fact join runs
    * cannot mix a pre-flip dimension with a post-flip one (the reference
    * gets the same read consistency from its Redshift transaction,
    * populate_fact.py:91). */
  def populateFact(): Unit = {
    if (!catalog.exists("dim_dates"))
      catalog.write("dim_dates", DateDimension.build(spark))
    val snap = catalog.snapshot("orders", "orderdetails",
      "dim_customers", "dim_stores", "dim_products", "dim_dates")
    val fact = FactBuilder.build(
      snap.read("orders"), snap.read("orderdetails"),
      snap.read("dim_customers"), snap.read("dim_stores"),
      snap.read("dim_products"), snap.read("dim_dates"))
    if (appendFact) catalog.append("fact_orders", fact)
    else catalog.write("fact_orders", fact)
  }
}
