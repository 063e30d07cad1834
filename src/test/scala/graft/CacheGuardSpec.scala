package graft

import org.apache.spark.storage.StorageLevel
import graft.operators.{CacheGuard, TextIndex, Trend}
import graft.operators.CacheGuard.PersistTrackedOps

class CacheGuardSpec extends SparkSpec {
  import spark.implicits._

  /** How many tracked frames `body` leaves to an enclosing scope. */
  private def leftTracked(body: => Unit): Int = {
    val outer = CacheGuard.openScope()
    var left = 0
    try body finally left = outer.close()
    left
  }

  private def crawl(): (graft.run.CrawlIngest, Seq[String] => String) = {
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-cg-crawl").toString)
    val ingest = new graft.run.CrawlIngest(spark, cat,
      graft.run.CrawlIngestConfig(quality = graft.operators.QualityFilter
        .Thresholds(minTokens = 1, minAlphaRatio = 0.0, minStopRatio = 0.0)))
    def jsonl(lines: Seq[String]): String = {
      val f = java.nio.file.Files.createTempFile("graft-cg-crawl", ".jsonl")
      java.nio.file.Files.writeString(f, lines.mkString("\n"))
      f.toString
    }
    (ingest, jsonl)
  }
  private val crawlSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", "long").add("text", "string")
  private def doc(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""
  private val t1 = (1 to 32).map(i => s"alpha$i").mkString(" ")
  private val t2 = (1 to 32).map(i => s"beta$i").mkString(" ")

  private def pipelineRun(day: String): (graft.run.PipelineRunner, graft.run.RunConfig) = {
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-cg-pipe").toString)
    (new graft.run.PipelineRunner(spark, cat),
      graft.run.RunConfig("customers", fixture("customers.csv"), java.sql.Date.valueOf(day)))
  }

  test("a scope unpersists the operator frames registered in it, once") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a d d"))
      .toDF("doc_id", "text")
    val xy = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 40L)).toDF("x", "y")
    val scope = CacheGuard.openScope()
    TextIndex.tfIdfTopK(docs).count() // persists postings + dfreq
    Trend.spearman(xy, "x", "y", "x", "y").count() // persists rank maps + base
    val released = scope.close()
    assert(released >= 4, s"expected the four tracked frames, got $released")
    assert(scope.close() == 0, "second close must find nothing")
    // operators still work after a release (fresh persists re-register)
    val again = CacheGuard.openScope()
    assert(TextIndex.tfIdfTopK(docs).count() > 0)
    assert(again.close() > 0)
  }

  test("a frame tracked before a pipeline run is still cached after it") {
    val mine = spark.range(100).toDF("id").persistTracked()
    mine.count()
    val (runner, cfg) = pipelineRun("2024-01-01")
    runner.run(cfg)
    assert(mine.storageLevel != StorageLevel.NONE, "the run evicted a caller's frame")
    mine.unpersist()
  }

  test("a frame tracked before a crawl-ingest batch is still cached after it") {
    val mine = spark.range(100).toDF("id").persistTracked()
    mine.count()
    val (ingest, jsonl) = crawl()
    ingest.ingest(jsonl(Seq(doc(1, t1))), crawlSchema)
    assert(mine.storageLevel != StorageLevel.NONE, "the batch evicted a caller's frame")
    mine.unpersist()
  }

  test("consecutive crawl-ingest batches leave no tracked frames behind") {
    val (ingest, jsonl) = crawl()
    assert(leftTracked(ingest.ingest(jsonl(Seq(doc(1, t1))), crawlSchema)) == 0,
      "batch 1 must release its tracked frames")
    assert(leftTracked(ingest.ingest(jsonl(Seq(doc(2, t2), doc(3, t1))), crawlSchema)) == 0,
      "batch 2 must release its tracked frames")
  }

  test("consecutive pipeline runs leave no tracked frames behind") {
    val (runner, cfg) = pipelineRun("2024-01-01")
    assert(leftTracked(runner.run(cfg)) == 0, "run 1 must release its tracked frames")
    assert(leftTracked(runner.run(cfg.copy(runDate = java.sql.Date.valueOf("2024-01-02")))) == 0,
      "run 2 must release its tracked frames")
  }
}
