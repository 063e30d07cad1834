package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one gate query, writing its result to `outDir/name`. A thrown
    * query must surface as a RED row, never as an absence: on failure, a
    * one-row parquet whose schema ("err": message) can't match any oracle
    * is written instead, so the driver's compare records an explicit
    * failure. (Round 6 lost 16 green rows silently when queries started
    * throwing — CORRECTNESS just shrank with no trace.) Returns the error
    * message, or None on success. Spec: VerifySpec. */
  def runOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String): Option[String] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      None
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      System.err.println(s"[verify] $name FAILED: $msg")
      try {
        import spark.implicits._
        Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
      Some(msg)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Set[String] = args.drop(2).toSet // optional query-name filter (dev)
    val spark = Session.build("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
        runOne(spark, name, fn, sfDir, outDir).foreach(errors += name -> _)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Human/driver-readable index of everything that threw this run.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
