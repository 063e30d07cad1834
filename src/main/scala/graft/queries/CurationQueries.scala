package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Model-based corpus curation gates — the statistical tier that runs after
  * the heuristic batteries in [[TextQueries]]: n-gram LM cross-entropy
  * (CCNet-style perplexity filtering), DSIR importance weighting toward a
  * target domain, and unigram entropy. All scores follow the
  * [[graft.operators.NgramLm]] micro-nat quantization contract, so every
  * query here is hash-exact against its DuckDB oracle (no float-sum or libm
  * order hazards — the transcendental is quantized at the source).
  *
  * Corpus split conventions (deterministic, oracle-derivable):
  * even doc_ids train the reference LM; lang='en' is the DSIR target slice.
  */
object CurationQueries {

  private val micro = graft.operators.NgramLm.MicroScale

  /** Per-(session, sfDir) fitted NB model — the two classifier gates share
    * one fit (train once, score many, like the k-means coarse quantizer),
    * and the model tables persist so scoring's three references to them
    * (labels ×2, tokenProbs) don't re-execute the training lineage. */
  private val nbModels = new PerSession[graft.operators.NaiveBayes.NbModel]

  private def nbModel(s: org.apache.spark.sql.SparkSession, d: String)
      : graft.operators.NaiveBayes.NbModel = {
    val m = nbModels(s, d)(graft.operators.NaiveBayes.train(
        docs(s, d).filter(col("doc_id") % 2 === 0), "lang"))
    // re-persist on every access: the bench session clearCache()s between
    // queries, and persist() is idempotent when the frame is still cached
    m.tokenProbs.persist(); m.labels.persist()
    m
  }

  /** Shared persisted (doc_id, label, score_micro) frame — ONE scores run
    * feeds the margin/AUC/PR gates and the confusion derivation (each used
    * to replay the token explode + model joins per query; the r8 verdict
    * flagged q_x_nb_margin_bins paying ~1.5 s to re-derive what its
    * siblings already had). */
  private val nbScoreFrames = new PerSession[org.apache.spark.sql.DataFrame]

  private def nbScores(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val sc = nbScoreFrames(s, d)(graft.operators.NaiveBayes.scores(docs(s, d), nbModel(s, d)))
    sc.persist() // idempotent; re-persist because bench clearCache()s
    sc
  }

  /** Shared persisted confusion frame (K²-sized) — the confusion and
    * metrics gates consume the same classify run. */
  private val nbConfusions = new PerSession[org.apache.spark.sql.DataFrame]

  private def nbConfusion(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val c = nbConfusions(s, d)(graft.operators.NaiveBayes.confusionFromScores(nbScores(s, d),
        docs(s, d).select(col("doc_id"), col("lang").as("gold"))))
    c.persist()
    c
  }

  /** Shared DuckDB CTEs: whitespace tokens and the zipped bigram stream
    * (aligned unnests — DuckDB zips parallel unnests of equal length). */
  private val bigramSql: String =
    s"""tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
        bg AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i])) AS w1,
                 unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i+1])) AS w2
               FROM tk)"""

  /** Bigram-LM scoring CTEs: add-one-smoothed model on even doc_ids,
    * micro-nat quantized per-bigram log-probs, per-doc exact integer NLL. */
  private val xentSql: String =
    s"""$bigramSql,
        tbg AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
        pc AS (SELECT w1, w2, count(*) AS c12 FROM tbg GROUP BY 1, 2),
        cc AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY 1),
        vv AS (SELECT count(DISTINCT tok) AS vs
               FROM (SELECT unnest(toks) AS tok FROM tk WHERE doc_id % 2 = 0)),
        sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
                 CAST(sum(-CAST(round(ln((COALESCE(c12, 0) + 1) /
                     CAST(COALESCE(c1, 0) + vs AS DOUBLE)) * $micro, 0) AS BIGINT))
                   AS BIGINT) AS nll_micro
               FROM bg LEFT JOIN pc USING (w1, w2) LEFT JOIN cc USING (w1), vv
               GROUP BY 1),
        xent AS (SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, nll_micro,
                   CAST(nll_micro AS DOUBLE) / (n_bigrams * $micro) AS xent_nats
                 FROM documents d LEFT JOIN sc USING (doc_id))"""

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "documents")

  /** Naive Bayes CTEs (model on even doc_ids, label = lang): add-one-
    * smoothed token log-probs / class floors / priors, all micro-nat
    * quantized; per-(doc,label) scores via the n·floor decomposition; `pred`
    * carries the (score desc, label asc) argmax rank. */
  private val nbSql: String =
    s"""tka AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
        tk AS (SELECT doc_id, tok FROM tka WHERE tok <> ''),
        tr AS (SELECT t.doc_id, d.lang AS label, t.tok
               FROM tk t JOIN documents d USING (doc_id) WHERE t.doc_id % 2 = 0),
        cnt AS (SELECT label, tok, count(*) AS c FROM tr GROUP BY 1, 2),
        vv AS (SELECT count(DISTINCT tok) AS v FROM cnt),
        ctot AS (SELECT label, sum(c) AS n_l FROM cnt GROUP BY 1),
        dc AS (SELECT lang AS label, count(*) AS nd_l FROM documents
               WHERE doc_id % 2 = 0 GROUP BY 1),
        tt AS (SELECT count(*) AS nd, count(DISTINCT lang) AS k FROM documents
               WHERE doc_id % 2 = 0),
        lab AS (SELECT dc.label,
                  CAST(round(ln((nd_l + 1) / CAST(nd + k AS DOUBLE)) * $micro, 0)
                    AS BIGINT) AS prior_micro,
                  CAST(round(ln(1.0 / CAST(COALESCE(n_l, 0) + v AS DOUBLE)) * $micro, 0)
                    AS BIGINT) AS floor_micro
                FROM dc LEFT JOIN ctot USING (label), tt, vv),
        tp AS (SELECT label, tok,
                 CAST(round(ln((c + 1) / CAST(n_l + v AS DOUBLE)) * $micro, 0)
                   AS BIGINT) AS lp_micro
               FROM cnt JOIN ctot USING (label), vv),
        fq AS (SELECT doc_id, tok, count(*) AS f FROM tk GROUP BY 1, 2),
        ntk AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens FROM fq GROUP BY 1),
        seen AS (SELECT fq.doc_id, tp.label,
                   sum(f * (lp_micro - floor_micro)) AS delta_micro
                 FROM fq JOIN tp USING (tok) JOIN lab ON tp.label = lab.label
                 GROUP BY 1, 2),
        sc AS (SELECT d.doc_id, lab.label,
                 CAST(prior_micro + COALESCE(n_tokens, 0) * floor_micro
                      + COALESCE(delta_micro, 0) AS BIGINT) AS score_micro
               FROM documents d CROSS JOIN lab
                    LEFT JOIN ntk ON d.doc_id = ntk.doc_id
                    LEFT JOIN seen ON d.doc_id = seen.doc_id AND lab.label = seen.label),
        pred AS (SELECT doc_id, label AS predicted, score_micro,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY score_micro DESC, label) AS rk
                 FROM sc)"""

  /** Per-LANGUAGE bigram-LM scoring CTEs (ends in `res`): the grouped twin
    * of [[xentSql]] — model tables keyed by lang, shared by the per-lang
    * xent gate and the CCNet bucket gate. */
  private val xentPerLangSql: String =
    s"""$bigramSql,
        bl AS (SELECT bg.doc_id, d.lang, w1, w2
               FROM bg JOIN documents d ON bg.doc_id = d.doc_id),
        tbg AS (SELECT lang, w1, w2 FROM bl WHERE doc_id % 2 = 0),
        pc AS (SELECT lang, w1, w2, count(*) AS c12 FROM tbg GROUP BY 1, 2, 3),
        cc AS (SELECT lang, w1, count(*) AS c1 FROM tbg GROUP BY 1, 2),
        vv AS (SELECT lang, count(DISTINCT tok) AS vs
               FROM (SELECT d.lang, unnest(tk.toks) AS tok
                     FROM tk JOIN documents d ON tk.doc_id = d.doc_id
                     WHERE tk.doc_id % 2 = 0)
               GROUP BY 1),
        sc AS (SELECT bl.doc_id, count(*) AS n_bigrams,
                 CAST(sum(-CAST(round(ln((COALESCE(c12, 0) + 1) /
                     CAST(COALESCE(c1, 0) + vs AS DOUBLE)) * $micro, 0) AS BIGINT))
                   AS BIGINT) AS nll_micro
               FROM bl LEFT JOIN pc USING (lang, w1, w2)
                       LEFT JOIN cc USING (lang, w1)
                       LEFT JOIN vv USING (lang)
               GROUP BY 1),
        res AS (SELECT d.doc_id, d.lang, COALESCE(n_bigrams, 0) AS n_bigrams,
                  nll_micro,
                  CAST(nll_micro AS DOUBLE) / (n_bigrams * $micro) AS xent_nats
                FROM documents d LEFT JOIN sc USING (doc_id))"""

  /** Per-(session, sfDir) catalog root for the stored-LM gate. */
  private val lmRoots =
    new PerSession[String]

  lazy val all: Seq[QueryDef] = Seq(

    // Cross-entropy of every document under a bigram LM trained on the
    // even-doc_id half of the corpus (Laplace smoothing, unseen context →
    // 1/V). The fluency score CCNet gates on; exact integer micro-nats.
    QueryDef("q_x_lm_xent",
      (s, d) => graft.operators.NgramLm.crossEntropy(docs(s, d),
        graft.operators.NgramLm.trainBigram(docs(s, d).filter(col("doc_id") % 2 === 0))),
      Some(s"""WITH $xentSql
               SELECT doc_id, n_bigrams, nll_micro, xent_nats FROM xent""")),

    // The stored-model form: the bigram LM is fit once, persisted through
    // the versioned catalog (pairs/contexts/meta tables), reloaded, and
    // scoring runs against the STORED tables — identical oracle to
    // q_x_lm_xent, so the round-trip provably changes nothing.
    QueryDef("q_x_lm_xent_stored",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, tempRoot(lmRoots, s, d, "graft-lm"))
        if (!cat.exists("reflm_pairs"))
          graft.operators.NgramLm.saveModel(cat, "reflm",
            graft.operators.NgramLm.trainBigram(docs(s, d).filter(col("doc_id") % 2 === 0)))
        graft.operators.NgramLm.crossEntropy(docs(s, d),
          graft.operators.NgramLm.loadModel(cat, "reflm"))
      },
      Some(s"""WITH $xentSql
               SELECT doc_id, n_bigrams, nll_micro, xent_nats FROM xent""")),

    // The corpus-relative perplexity gate: keep documents at or below the
    // corpus's own P90 of cross-entropy (reject the most-surprising 10% —
    // gibberish, wrong-language, boilerplate soup). NULL (unscoreable)
    // rejects, matching the QualityFilter gate convention.
    QueryDef("q_x_lm_gate",
      (s, d) => graft.operators.NgramLm.perplexityGate(docs(s, d),
          docs(s, d).filter(col("doc_id") % 2 === 0), quantile = 0.9)
        .select(col("doc_id"), col("n_bigrams"), col("nll_micro"), col("keep")),
      Some(s"""WITH $xentSql,
               cut AS (SELECT quantile_cont(xent_nats, 0.9) AS cutoff FROM xent)
               SELECT doc_id, n_bigrams, nll_micro,
                      COALESCE(xent_nats <= cutoff, false) AS keep
               FROM xent, cut""")),

    // The published CCNet shape: one reference LM PER LANGUAGE (a pooled
    // model scores every minority language as "surprising" and a gate
    // would gut them). Model tables keyed by lang; scoring joins ride the
    // same shuffles with lang in the key.
    QueryDef("q_x_lm_xent_per_lang",
      (s, d) => graft.operators.NgramLm.crossEntropyGrouped(docs(s, d),
        graft.operators.NgramLm.trainBigramGrouped(
          docs(s, d).filter(col("doc_id") % 2 === 0), "lang"), "lang"),
      Some(s"""WITH $xentPerLangSql
               SELECT doc_id, lang, n_bigrams, nll_micro, xent_nats FROM res""")),

    // The full CCNet corpus split (Wenzek et al. 2020 §4.3): per-LANGUAGE
    // head/middle/tail terciles of the per-lang-LM cross-entropy — head is
    // each language's most fluent third. Cutoffs are exact ⌈n·q⌉
    // ceiling-rank order statistics of xent (data values, no
    // interpolation); xent itself is one IEEE division of exact integers,
    // so every cutoff comparison agrees bitwise cross-engine.
    QueryDef("q_x_ccnet_buckets",
      (s, d) => graft.operators.NgramLm.perplexityBuckets(docs(s, d),
        docs(s, d).filter(col("doc_id") % 2 === 0), "lang"),
      Some(s"""WITH $xentPerLangSql,
               h AS (SELECT lang, xent_nats AS v, count(*) AS c FROM res
                     WHERE xent_nats IS NOT NULL GROUP BY 1, 2),
               cw AS (SELECT lang, v,
                        sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                        sum(c) OVER (PARTITION BY lang) AS n
                      FROM h),
               cu AS (SELECT lang,
                        min(CASE WHEN cum >= (n * 1 + 2) // 3 THEN v END) AS t1,
                        min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN v END) AS t2
                      FROM cw GROUP BY 1)
               SELECT r.doc_id, r.lang, r.n_bigrams, r.nll_micro, r.xent_nats,
                 CASE WHEN r.xent_nats IS NULL THEN NULL
                      WHEN r.xent_nats <= t1 THEN 'head'
                      WHEN r.xent_nats <= t2 THEN 'middle'
                      ELSE 'tail' END AS bucket
               FROM res r LEFT JOIN cu USING (lang)""")),

    // Mutual information lang↔source: the dataset-confounding audit (high
    // MI = source predicts language, so per-source sampling skews language
    // balance). PMI micro-quantized at the source per cell; the corpus MI
    // is an exact integer sum with ONE final IEEE division.
    QueryDef("q_x_mi_lang_source",
      (s, d) => graft.operators.Eval.categoricalMi(docs(s, d), "lang", "source"),
      Some(s"""WITH b AS (SELECT CAST(lang AS VARCHAR) AS x,
                 CAST(source AS VARCHAR) AS y FROM documents),
               j AS (SELECT x, y, count(*) AS n_xy FROM b GROUP BY 1, 2),
               mx AS (SELECT x, count(*) AS n_x FROM b GROUP BY 1),
               my AS (SELECT y, count(*) AS n_y FROM b GROUP BY 1),
               nn AS (SELECT count(*) AS n FROM b),
               cells AS (SELECT x, y, n_xy, n_x, n_y,
                 CAST(round(ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
                     / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1000000, 0)
                   AS BIGINT) AS pmi_micro
                 FROM j JOIN mx USING (x) JOIN my USING (y), nn),
               tot AS (SELECT CAST(sum(n_xy * pmi_micro) AS BIGINT) AS mi_micro,
                         CAST(sum(n_xy * pmi_micro) AS DOUBLE)
                           / CAST((SELECT n FROM nn) * 1000000 AS DOUBLE) AS mi_nats
                       FROM cells)
               SELECT x AS lang, y AS source, n_xy, n_x, n_y, pmi_micro,
                      mi_micro, mi_nats
               FROM cells, tot""")),

    // ROUGE-2 clipped bigram overlap between adjacent-doc (even candidate,
    // odd reference) pairs: precision/recall one IEEE division each, F1 as
    // the exact integer 2·o·10⁶ div (|cand|+|ref|) — harmonic mean without
    // a float chain. The reference-based generation metric, and a targeted
    // pairwise contamination probe.
    QueryDef("q_x_rouge2",
      (s, d) => {
        val ds = docs(s, d)
        val pairs = ds.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("cand_id"), (col("doc_id") + 1).as("ref_id"))
          .join(ds.select(col("doc_id").as("ref_id")), Seq("ref_id"), "left_semi")
        graft.operators.Eval.bigramOverlap(pairs, ds)
      },
      Some(s"""WITH $bigramSql,
               g AS (SELECT doc_id, w1 || ' ' || w2 AS gram, count(*) AS c
                     FROM bg GROUP BY 1, 2),
               tt AS (SELECT doc_id, sum(c) AS t FROM g GROUP BY 1),
               pr AS (SELECT a.doc_id AS cand_id, a.doc_id + 1 AS ref_id
                      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
                      WHERE a.doc_id % 2 = 0),
               ov AS (SELECT cg.cand_id, cg.ref_id,
                        sum(least(cg.c, COALESCE(rg.c, 0))) AS o
                      FROM (SELECT p.cand_id, p.ref_id, g.gram, g.c FROM pr p
                            JOIN g ON g.doc_id = p.cand_id) cg
                      LEFT JOIN g rg ON rg.doc_id = cg.ref_id AND rg.gram = cg.gram
                      GROUP BY 1, 2)
               SELECT p.cand_id, p.ref_id,
                 CAST(COALESCE(ov.o, 0) AS BIGINT) AS n_overlap,
                 CAST(COALESCE(ct.t, 0) AS BIGINT) AS n_cand,
                 CAST(COALESCE(rt.t, 0) AS BIGINT) AS n_ref,
                 CAST(COALESCE(ov.o, 0) AS DOUBLE)
                   / CAST(NULLIF(COALESCE(ct.t, 0), 0) AS DOUBLE) AS precision,
                 CAST(COALESCE(ov.o, 0) AS DOUBLE)
                   / CAST(NULLIF(COALESCE(rt.t, 0), 0) AS DOUBLE) AS recall,
                 CAST((2 * COALESCE(ov.o, 0) * 1000000)
                   // greatest(COALESCE(ct.t, 0) + COALESCE(rt.t, 0), 1)
                   AS BIGINT) AS f1_ppm
               FROM pr p
               LEFT JOIN ov ON p.cand_id = ov.cand_id AND p.ref_id = ov.ref_id
               LEFT JOIN tt ct ON ct.doc_id = p.cand_id
               LEFT JOIN tt rt ON rt.doc_id = p.ref_id""")),

    // DoReMi-style one-shot domain reweighting: per-language excess
    // cross-entropy over the corpus average (micro-nats/bigram, truncating
    // BIGINT divisions), mixed 90% excess-proportional + 10% uniform into
    // ppm mixture weights. The K-sized output a mixture sampler consumes;
    // every hashed value is an exact integer.
    QueryDef("q_x_mix_doremi",
      (s, d) => graft.operators.NgramLm.domainExcessWeights(docs(s, d),
        graft.operators.NgramLm.trainBigram(docs(s, d).filter(col("doc_id") % 2 === 0)),
        "lang"),
      Some(s"""WITH $xentSql,
               dom AS (SELECT d.lang,
                         CAST(COALESCE(sum(x.n_bigrams), 0) AS BIGINT) AS n_bigrams,
                         CAST(COALESCE(sum(x.nll_micro), 0) AS BIGINT) AS nll_micro
                       FROM xent x JOIN documents d USING (doc_id) GROUP BY 1),
               tot AS (SELECT sum(n_bigrams) AS tb, sum(nll_micro) AS tn,
                              count(*) AS k FROM dom),
               ex AS (SELECT lang, n_bigrams, nll_micro, k,
                        nll_micro // greatest(n_bigrams, 1) AS avg_micro,
                        tn // greatest(tb, 1) AS ref_micro
                      FROM dom CROSS JOIN tot),
               ex2 AS (SELECT *, greatest(avg_micro - ref_micro, 0) AS excess_micro
                       FROM ex),
               tx AS (SELECT COALESCE(sum(excess_micro), 0) AS total_excess FROM ex2)
               SELECT lang, n_bigrams, nll_micro,
                      CAST(avg_micro AS BIGINT) AS avg_micro,
                      CAST(ref_micro AS BIGINT) AS ref_micro,
                      CAST(excess_micro AS BIGINT) AS excess_micro,
                      CAST(CASE WHEN total_excess > 0
                           THEN ((900000 * excess_micro) // total_excess)
                                + (100000 // k)
                           ELSE 1000000 // k END AS BIGINT) AS weight_ppm
               FROM ex2 CROSS JOIN tx""")),

    // DSIR importance weights toward the lang='en' slice: hashed-unigram
    // bag models (dim=256) for target and raw corpus, per-doc exact integer
    // log-likelihood-ratio dot product. Rank by weight_micro and you have
    // the published target-domain resampling order.
    QueryDef("q_x_dsir_weights",
      (s, d) => graft.operators.NgramLm.dsirWeights(docs(s, d),
        docs(s, d).filter(col("lang") === "en"), dim = 256),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
               b AS (SELECT doc_id, ${hash64Sql("tok")} % 256 AS b
                     FROM tok WHERE tok <> ''),
               tb AS (SELECT b.b FROM b JOIN documents d USING (doc_id)
                      WHERE d.lang = 'en'),
               tt AS (SELECT count(*) AS n FROM tb),
               rt AS (SELECT count(*) AS n FROM b),
               tm AS (SELECT b, CAST(round(ln((count(*) + 1) /
                        CAST((SELECT n FROM tt) + 256 AS DOUBLE)) * $micro, 0)
                        AS BIGINT) AS lp_target
                      FROM tb GROUP BY 1),
               rm AS (SELECT b, CAST(round(ln((count(*) + 1) /
                        CAST((SELECT n FROM rt) + 256 AS DOUBLE)) * $micro, 0)
                        AS BIGINT) AS lp_raw
                      FROM b GROUP BY 1),
               f AS (SELECT doc_id, b, count(*) AS f FROM b GROUP BY 1, 2)
               SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens,
                      CAST(sum(f * (COALESCE(lp_target,
                             CAST(round(ln(1.0 / (tt.n + 256)) * $micro, 0) AS BIGINT))
                           - lp_raw)) AS BIGINT) AS weight_micro,
                      CAST(sum(f * (COALESCE(lp_target,
                             CAST(round(ln(1.0 / (tt.n + 256)) * $micro, 0) AS BIGINT))
                           - lp_raw)) AS DOUBLE) / (sum(f) * $micro)
                        AS avg_logratio_nats
               FROM f LEFT JOIN tm USING (b) LEFT JOIN rm USING (b), tt
               GROUP BY doc_id, tt.n""")),

    // PMI collocations: corpus-level top-50 adjacent-token pairs by
    // pointwise mutual information (micro-nat quantized, ≥5 occurrences,
    // (pmi, w1, w2) deterministic order) — the classic multi-word-unit
    // miner for tokenizer seeding and boilerplate discovery.
    QueryDef("q_x_pmi_collocations",
      (s, d) => graft.operators.NgramLm.pmiCollocations(docs(s, d),
        minCount = 5, k = 50),
      Some(s"""WITH $bigramSql,
               uni AS (SELECT unnest(toks) AS tok FROM tk),
               nt AS (SELECT count(*) AS n FROM uni),
               nb AS (SELECT count(*) AS n FROM bg),
               c1 AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
               p AS (SELECT w1, w2, count(*) AS n_pair FROM bg
                     GROUP BY 1, 2 HAVING count(*) >= 5),
               sc AS (SELECT p.w1, p.w2, n_pair,
                        CAST(round(ln((CAST(n_pair AS DOUBLE) * nt.n * nt.n) /
                            (CAST(nb.n AS DOUBLE) * a.c * b.c)) * $micro, 0)
                          AS BIGINT) AS pmi_micro
                      FROM p JOIN c1 a ON p.w1 = a.tok
                             JOIN c1 b ON p.w2 = b.tok, nt, nb)
               SELECT w1, w2, n_pair, pmi_micro, rank
               FROM (SELECT *, CAST(row_number() OVER
                       (ORDER BY pmi_micro DESC, w1, w2) AS BIGINT) AS rank
                     FROM sc)
               WHERE rank <= 50""")),

    // Skip-gram pair extraction (window=2): the word2vec/GloVe co-occurrence
    // table as exact counts — pair generation is one map-side HOF chain
    // (no positional self-join), the only shuffle the pair-keyed count.
    // Top-100 by (count, center, context) keeps the gate output bounded.
    QueryDef("q_x_skipgrams",
      (s, d) => {
        // rank-filter form: Spark's WindowGroupLimit rewrites the
        // row_number <= k filter into a per-partition top-k before the
        // single-partition merge (measured faster than an explicit
        // orderBy+limit+re-rank, which pays an extra sort exchange)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n_pairs").desc, col("center"), col("context"))
        graft.operators.NgramLm.skipGramPairs(docs(s, d), window = 2)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 100)
      },
      Some(s"""WITH tk AS (SELECT $tokensSql AS toks FROM documents),
               p AS (SELECT unnest(flatten(list_transform(
                       generate_series(1, len(toks)), i ->
                       list_transform(
                         list_filter(generate_series(greatest(1, i - 2),
                                                     least(len(toks), i + 2)),
                                     j -> j != i),
                         j -> {'center': toks[i], 'context': toks[j]})))) AS s
                     FROM tk WHERE len(toks) >= 2),
               cnt AS (SELECT s.center AS center, s.context AS context,
                              count(*) AS n_pairs
                       FROM p GROUP BY 1, 2)
               SELECT center, context, n_pairs, rank
               FROM (SELECT *, CAST(row_number() OVER (ORDER BY n_pairs DESC,
                       center, context) AS BIGINT) AS rank FROM cnt)
               WHERE rank <= 100""")),

    // Multinomial Naive Bayes classifier (the fastText-style model-based
    // curation tier: closed-form linear text classifier, no SGD ordering
    // nondeterminism). Trained on the even-doc_id half with lang as the
    // label; every document then gets an exact-integer argmax prediction.
    // Unseen-token mass folds into the closed-form n_tokens·floor term, so
    // scoring's only join is doc-token-counts ⋈ model on the token key.
    QueryDef("q_x_nb_classify",
      (s, d) => graft.operators.NaiveBayes.classifyFromScores(nbScores(s, d)),
      Some(s"""WITH $nbSql
               SELECT doc_id, predicted, score_micro FROM pred WHERE rk = 1""")),

    // Confusion matrix of the NB classifier against the gold lang labels —
    // the classifier-eval surface (K²-bounded output).
    QueryDef("q_x_nb_confusion",
      (s, d) => nbConfusion(s, d),
      Some(s"""WITH $nbSql
               SELECT d.lang AS gold, p.predicted, count(*) AS n_docs
               FROM (SELECT doc_id, predicted FROM pred WHERE rk = 1) p
               JOIN documents d USING (doc_id)
               GROUP BY 1, 2""")),

    // Per-class precision/recall/F1 of the NB classifier — the eval report
    // over the confusion counts (exact integers; each metric ONE IEEE
    // division, F1 as 2·tp/(n_gold+n_pred) so it never composes roundings).
    QueryDef("q_x_nb_metrics",
      (s, d) => graft.operators.NaiveBayes.metrics(nbConfusion(s, d)),
      Some(s"""WITH $nbSql,
               cf AS (SELECT d.lang AS gold, p.predicted, count(*) AS n
                      FROM (SELECT doc_id, predicted FROM pred WHERE rk = 1) p
                      JOIN documents d USING (doc_id) GROUP BY 1, 2),
               bg AS (SELECT gold AS label, sum(n) AS n_gold FROM cf GROUP BY 1),
               bp AS (SELECT predicted AS label, sum(n) AS n_pred FROM cf GROUP BY 1),
               tps AS (SELECT gold AS label, sum(n) AS tp FROM cf
                       WHERE gold = predicted GROUP BY 1),
               j AS (SELECT COALESCE(bg.label, bp.label) AS label,
                       CAST(COALESCE(tps.tp, 0) AS BIGINT) AS tp,
                       CAST(COALESCE(bg.n_gold, 0) AS BIGINT) AS n_gold,
                       CAST(COALESCE(bp.n_pred, 0) AS BIGINT) AS n_pred
                     FROM bg FULL JOIN bp ON bg.label = bp.label
                     LEFT JOIN tps ON tps.label = COALESCE(bg.label, bp.label))
               SELECT label, tp, n_gold, n_pred,
                 CASE WHEN n_pred > 0
                   THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS prec,
                 CASE WHEN n_gold > 0
                   THEN CAST(tp AS DOUBLE) / CAST(n_gold AS DOUBLE) END AS recall,
                 CASE WHEN n_gold + n_pred > 0
                   THEN 2.0 * CAST(tp AS DOUBLE)
                        / CAST(n_gold + n_pred AS DOUBLE) END AS f1
               FROM j""")),

    // Margin-calibration bins of the NB classifier: bucket every document
    // by its exact-integer DECISION MARGIN (top-1 − top-2 score micro-nats
    // — the no-softmax confidence proxy) and report per-bucket accuracy
    // against gold. The reliability diagram a production gate reads before
    // picking an abstain band; counts exact, accuracy one IEEE division.
    QueryDef("q_x_nb_margin_bins",
      (s, d) => graft.operators.NaiveBayes.marginBinsFromScores(nbScores(s, d),
        docs(s, d).select(col("doc_id"), col("lang").as("gold"))),
      Some(s"""WITH $nbSql,
               t2 AS (SELECT doc_id,
                        max(CASE WHEN rk = 1 THEN score_micro END) AS s1,
                        max(CASE WHEN rk = 1 THEN predicted END) AS pred,
                        max(CASE WHEN rk = 2 THEN score_micro END) AS s2
                      FROM pred WHERE rk <= 2 GROUP BY 1),
               mb AS (SELECT least((s1 - s2) // 200000, 10) AS margin_bin,
                        CASE WHEN pred = d.lang THEN 1 ELSE 0 END AS correct
                      FROM t2 JOIN documents d USING (doc_id)
                      WHERE s2 IS NOT NULL)
               SELECT margin_bin, count(*) AS n_docs,
                 CAST(sum(correct) AS BIGINT) AS n_correct,
                 CAST(sum(correct) AS DOUBLE) / count(*) AS accuracy
               FROM mb GROUP BY 1""")),

    // Cohen's kappa of the NB classifier vs the gold labels —
    // chance-corrected agreement (the label-quality audit run before any
    // crowd/model labels feed training). One IEEE division of exact
    // integers: (n·agree − Σ rowₖ·colₖ) / (n² − Σ rowₖ·colₖ).
    QueryDef("q_x_kappa",
      (s, d) => graft.operators.NaiveBayes.cohenKappa(nbConfusion(s, d)),
      Some(s"""WITH $nbSql,
               cf AS (SELECT d.lang AS gold, p.predicted, count(*) AS n
                      FROM (SELECT doc_id, predicted FROM pred WHERE rk = 1) p
                      JOIN documents d USING (doc_id) GROUP BY 1, 2),
               bg AS (SELECT gold AS label, sum(n) AS n_gold FROM cf GROUP BY 1),
               bp AS (SELECT predicted AS label, sum(n) AS n_pred FROM cf GROUP BY 1),
               pe AS (SELECT CAST(COALESCE(sum(n_gold * n_pred), 0) AS BIGINT)
                        AS pe_num FROM bg JOIN bp USING (label)),
               ag AS (SELECT CAST(sum(n) AS BIGINT) AS n_items,
                        CAST(COALESCE(sum(n) FILTER (WHERE gold = predicted), 0)
                          AS BIGINT) AS n_agree FROM cf)
               SELECT n_items, n_agree, pe_num,
                 CASE WHEN n_items * n_items - pe_num <> 0
                   THEN CAST(n_items * n_agree - pe_num AS DOUBLE)
                        / CAST(n_items * n_items - pe_num AS DOUBLE)
                 END AS kappa
               FROM ag, pe""")),

    // One-vs-rest ROC-AUC of the NB scores, per language — the
    // threshold-free ranking quality a score-based gate is tuned by.
    // Tie-aware Mann–Whitney over EXACT integer micro-nat scores: the
    // u2 = 2U numerator is an exact BIGINT (2 per strictly-lower negative,
    // 1 per tied negative), auc = u2/(2·n_pos·n_neg) ONE IEEE division.
    // Spark computes the cumulative via a two-level bucketed prefix sum
    // (no corpus-sized window partition); the oracle's single
    // label-partitioned cumsum is the same semantic at oracle scale.
    QueryDef("q_x_auc",
      (s, d) => graft.operators.Eval.aucPerLabel(nbScores(s, d),
        docs(s, d).select(col("doc_id"), col("lang").as("gold"))),
      Some(s"""WITH $nbSql,
               j AS (SELECT sc.label, sc.score_micro AS s,
                       CASE WHEN d.lang = sc.label THEN 1 ELSE 0 END AS pos
                     FROM sc JOIN documents d USING (doc_id)),
               ps AS (SELECT label, s, CAST(sum(pos) AS BIGINT) AS np,
                        CAST(count(*) - sum(pos) AS BIGINT) AS nn
                      FROM j GROUP BY 1, 2),
               cb AS (SELECT label, np, nn,
                        CAST(COALESCE(sum(nn) OVER (PARTITION BY label
                          ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS neg_below
                      FROM ps),
               ag AS (SELECT label, CAST(sum(np) AS BIGINT) AS n_pos,
                        CAST(sum(nn) AS BIGINT) AS n_neg,
                        CAST(sum(np * (2 * neg_below + nn)) AS BIGINT) AS u2
                      FROM cb GROUP BY 1)
               SELECT label, n_pos, n_neg, u2,
                 CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                   CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
                 END AS auc
               FROM ag""")),

    // Precision/recall curve of the NB scores, per language: one row per
    // distinct attained score s, scoring the gate "keep iff score ≥ s" —
    // the operating-point menu (max-F1 / precision-floor pickers reduce
    // it). tp/fp derive from the SAME cumulative frame as q_x_auc
    // (count_{≥s} = total − count_{<s}); each ratio one IEEE division.
    QueryDef("q_x_pr_curve",
      (s, d) => graft.operators.Eval.prCurvePerLabel(nbScores(s, d),
        docs(s, d).select(col("doc_id"), col("lang").as("gold"))),
      Some(s"""WITH $nbSql,
               j AS (SELECT sc.label, sc.score_micro AS s,
                       CASE WHEN d.lang = sc.label THEN 1 ELSE 0 END AS pos
                     FROM sc JOIN documents d USING (doc_id)),
               ps AS (SELECT label, s, CAST(sum(pos) AS BIGINT) AS np,
                        CAST(count(*) - sum(pos) AS BIGINT) AS nn
                      FROM j GROUP BY 1, 2),
               cb AS (SELECT label, s, np, nn,
                        CAST(COALESCE(sum(np) OVER (PARTITION BY label
                          ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS pos_below,
                        CAST(COALESCE(sum(nn) OVER (PARTITION BY label
                          ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS neg_below
                      FROM ps),
               tot AS (SELECT label, CAST(sum(np) AS BIGINT) AS n_pos,
                         CAST(sum(nn) AS BIGINT) AS n_neg
                       FROM ps GROUP BY 1)
               SELECT label, s AS threshold_micro,
                 CAST(n_pos - pos_below AS BIGINT) AS tp,
                 CAST(n_neg - neg_below AS BIGINT) AS fp,
                 n_pos,
                 CAST(n_pos - pos_below AS DOUBLE)
                   / CAST((n_pos - pos_below) + (n_neg - neg_below) AS DOUBLE)
                   AS prec,
                 CASE WHEN n_pos > 0 THEN CAST(n_pos - pos_below AS DOUBLE)
                   / CAST(n_pos AS DOUBLE) END AS recall
               FROM cb JOIN tot USING (label)""")),

    // Unigram Shannon entropy per document (micro-nat-exact): the
    // distribution-shape quality signal — catches shuffled repetition that
    // exact-shingle repetition scoring misses.
    QueryDef("q_x_token_entropy",
      (s, d) => graft.operators.QualityFilter.tokenEntropy(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
               pt AS (SELECT doc_id, tok, count(*) AS nt FROM tok GROUP BY 1, 2),
               nn AS (SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n FROM pt GROUP BY 1),
               h AS (SELECT pt.doc_id, nn.n, count(*) AS n_distinct,
                       CAST(sum(nt * CAST(round(ln(CAST(nn.n AS DOUBLE) / nt)
                         * $micro, 0) AS BIGINT)) AS BIGINT) AS hsum
                     FROM pt JOIN nn USING (doc_id) GROUP BY 1, 2)
               SELECT doc_id, n AS n_tokens, n_distinct,
                      CAST(hsum AS DOUBLE) / (n * $micro) AS entropy_nats
               FROM h"""))
  )
}
