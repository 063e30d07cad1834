package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.catalog.Catalog
import graft.io.Sources
import graft.operators.{QualityFilter, TextDedup}

/** The recurring-crawl ingest loop — the composition every round-3 piece
  * was built for, run per batch against a persistent corpus:
  *
  *   JSONL parse (+ quarantine sink) → quality + repetition gates →
  *   within-batch exact collapse → exact-incremental dedup (batch vs
  *   corpus content hashes) → near-dup check WITHIN the batch and against
  *   the STORED LSH band index → file-level corpus append + band-index
  *   append + retrieval-postings append
  *
  * Per-batch cost is O(batch): the corpus contributes one content-hash
  * column scan (exact dedup), one stored-index scan (near-dup bands), and
  * two manifest appends — it is never re-read in full, re-tokenized, or
  * rewritten. The batch itself is tokenized/shingled/hashed ONCE
  * ([[TextDedup.crawlNearDups]]): the self-check, the vs-index check, and
  * the index-append rows all come from the same derivation. The band index stays current by appending the NEW documents'
  * bands each run, so the next batch's near-dup check sees everything
  * ingested so far.
  *
  * Input contract: JSONL with at least (doc_id, text) plus whatever else
  * `schema` declares; malformed lines land in the quarantine table instead
  * of failing the batch (a crawl always contains garbage).
  */
final case class CrawlIngestConfig(
    quality: QualityFilter.Thresholds = QualityFilter.Thresholds(),
    maxRepetition: Double = 0.5,
    nearDupJaccard: Double = 0.5,
    numHashes: Int = 16,
    numBands: Int = 8,
    corpusTable: String = "crawl_corpus",
    bandIndexTable: String = "crawl_lsh_bands",
    quarantineTable: String = "crawl_quarantine",
    // when set, the crawl also maintains a LIVING retrieval index: each
    // batch appends the accepted docs' postings (O(batch), doc-disjoint
    // batches compose by union — see q_x_text_index_incremental), so the
    // corpus is searchable at every point without ever re-tokenizing it
    postingsTable: Option[String] = Some("crawl_postings"),
    // when set, a LIVING substring-dedup inventory too: per-batch span-stat
    // partials (exactly mergeable — batches are doc-disjoint) appended
    // O(batch); TextDedup.duplicatedSpansFromStats answers corpus-wide
    // duplicated-span queries from the store without re-tokenizing
    spanStatsTable: Option[String] = Some("crawl_span_stats"))

final case class CrawlIngestSummary(
    batchLines: Long, quarantined: Long, afterGates: Long,
    exactDups: Long, nearDups: Long, appended: Long, corpusDocs: Long)

final class CrawlIngest(spark: SparkSession, catalog: Catalog,
    cfg: CrawlIngestConfig = CrawlIngestConfig()) {

  /** Ingest one JSONL batch file/directory. Returns per-stage counts.
    * All outputs are catalog-written (eager) and the summary is plain
    * values, so the batch's scope releases the operator-internal frames
    * that registered with [[graft.operators.CacheGuard]] during it (the
    * dedup kernels persist shingle/fingerprint frames the returned plans
    * read — per-batch lifetime, not session lifetime). */
  def ingest(jsonlPath: String, schema: StructType): CrawlIngestSummary =
    graft.operators.CacheGuard.scoped(ingestImpl(jsonlPath, schema))

  private def ingestImpl(jsonlPath: String, schema: StructType): CrawlIngestSummary = {
    val (clean, quarantine) = Sources.jsonlWithQuarantine(spark, jsonlPath, schema)
    val quarantined = quarantine.count()
    if (quarantined > 0) {
      if (catalog.exists(cfg.quarantineTable))
        catalog.append(cfg.quarantineTable, quarantine)
      else catalog.write(cfg.quarantineTable, quarantine)
    }
    val batchLines = clean.count() + quarantined

    // map-side gates; persisted because every downstream stage (and its
    // count) reads it
    val gated = QualityFilter.repetitionScored(QualityFilter.filter(clean, cfg.quality))
      .filter(col("repetition") <= cfg.maxRepetition)
      .drop("n_shingles", "n_distinct", "repetition")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val afterGates = gated.count()

      // Within-batch exact collapse runs on EVERY path (a crawl batch
      // routinely contains the same page fetched twice): keep the smallest
      // doc_id per content hash. Without this, two identical docs in one
      // batch would both pass the vs-corpus checks and both land.
      val batchKeep = TextDedup.exact(gated).select(col("keep_id").as("doc_id"))
      val batchUnique = gated.join(batchKeep, Seq("doc_id"))

      if (!catalog.exists(cfg.corpusTable)) {
        // first batch bootstraps the corpus: within-batch dedup only. The
        // crawl kernel shingles/hashes the batch ONCE for the self-check
        // AND the index rows (greedy keep-smallest within the batch:
        // cliques keep their minimum; chains may over-drop — the
        // conservative direction for a training corpus).
        val (dropIds, bands) = TextDedup.crawlNearDups(None, batchUnique,
          cfg.nearDupJaccard, cfg.numHashes, cfg.numBands)
        val fresh = batchUnique.join(dropIds, Seq("doc_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          catalog.write(cfg.corpusTable, fresh)
          catalog.write(cfg.bandIndexTable,
            bands.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi"))
          appendDerivedIndexes(fresh)
          val appended = catalog.read(cfg.corpusTable).count()
          val nUnique = batchUnique.count()
          return CrawlIngestSummary(batchLines, quarantined, afterGates,
            exactDups = afterGates - nUnique, nearDups = nUnique - appended,
            appended, appended)
        } finally fresh.unpersist()
      }

      val corpus = catalog.read(cfg.corpusTable)
      // novel content only: one left-anti hash join against corpus md5s
      val novel = batchUnique.join(
          TextDedup.exactIncremental(corpus, batchUnique).select("doc_id"), Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nNovel = novel.count()

        // near-dups against the STORED band index (zero corpus re-hashing)
        // and WITHIN the batch itself, from ONE shared shingle/band
        // derivation of the batch — the kernel also hands back the batch
        // band rows, so the index append below re-tokenizes nothing
        val (dropIds, bands) = TextDedup.crawlNearDups(
          Some((corpus, catalog.read(cfg.bandIndexTable))), novel,
          cfg.nearDupJaccard, cfg.numHashes, cfg.numBands)
        val fresh = novel.join(dropIds, Seq("doc_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val appended = fresh.count()

          // O(batch) manifest appends: the rows, their index bands, and
          // (when configured) their postings
          catalog.append(cfg.corpusTable, fresh)
          catalog.append(cfg.bandIndexTable,
            bands.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi"))
          appendDerivedIndexes(fresh)

          CrawlIngestSummary(batchLines, quarantined, afterGates,
            exactDups = afterGates - nNovel, nearDups = nNovel - appended,
            appended, catalog.read(cfg.corpusTable).count())
        } finally fresh.unpersist()
      } finally novel.unpersist()
    } finally gated.unpersist()
  }

  /** Append the accepted batch's derived index rows — retrieval postings
    * and span-stat partials, each behind its own config switch (no-op per
    * table when the batch accepted nothing — an empty append would still
    * pay a commit). */
  private def appendDerivedIndexes(fresh: DataFrame): Unit = {
    cfg.postingsTable.foreach { table =>
      val p = graft.operators.TextIndex.postings(fresh, "doc_id", "text")
      if (catalog.exists(table)) { if (!p.isEmpty) catalog.append(table, p) }
      else catalog.write(table, p)
    }
    cfg.spanStatsTable.foreach { table =>
      val s = TextDedup.spanStats(fresh)
      if (catalog.exists(table)) { if (!s.isEmpty) catalog.append(table, s) }
      else catalog.write(table, s)
    }
  }
}
