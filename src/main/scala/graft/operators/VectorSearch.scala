package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import CacheGuard.PersistTrackedOps

/** Similarity search over embedding columns (`array<float>`).
  *
  * All arithmetic runs on integer-quantized coordinates (round(x·10⁴)) so
  * dot products and norms are exact integers and every similarity is a
  * deterministic double — reruns of a 100 TB job produce identical top-k
  * sets and thresholds (float summation order never leaks in).
  *
  * Two execution shapes:
  *  - [[bruteForceTopK]]: broadcast the (small) query set, scan the corpus
  *    once — the exact baseline, O(|Q|·N) with no corpus shuffle.
  *  - [[lshBuckets]] / [[nearDuplicates]]: random-hyperplane signatures
  *    turn all-pairs work into bucket-equality joins — the ANN/near-dup
  *    scale path (an IVF-style index materializes the same bucket column and
  *    probes it at query time).
  */
object VectorSearch {

  val Scale = 10000

  /** Integer quantization of an embedding column (exact longs) — a custom
    * codegen'd expression ([[graft.expressions.QuantizeToLong]]): the HOF
    * form `transform(e, x -> CAST(round(CAST(x AS DOUBLE) * S, 0) AS
    * BIGINT))` evaluates interpreted per ELEMENT, and quantization runs on
    * every corpus scan of this family; the expression is one primitive
    * loop per row with identical round/cast/null semantics. */
  def quantize(embedding: String): Column =
    graft.expressions.QuantizeToLong(col(embedding), Scale)

  /** Exact integer dot product — a custom codegen'd Catalyst expression
    * ([[graft.expressions.DotProductLong]]): the HOF composition
    * `aggregate(zip_with(...))` evaluates interpreted per candidate pair and
    * dominated the bench profile. */
  def dot(a: String, b: String): Column =
    graft.expressions.DotProductLong(col(a), col(b))

  /** Cosine similarity from integer dot/norms (deterministic double). */
  def cosine(dotCol: String, na: String, nb: String): Column =
    expr(s"CAST($dotCol AS DOUBLE) / sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))")

  /** vec_id + quantized vector + squared norm. */
  def prepared(emb: DataFrame, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("vec_id"), quantize(embCol).as("q"))
      .withColumn("nn", dot("q", "q"))

  /** Exact top-k cosine neighbors for each query row (self excluded).
    * The corpus side is [[spread]] because the O(|Q|·N) dot loop runs in
    * ITS partitioning (broadcast join; see spread's doc). */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = prepared(emb)
    val qs = broadcast(e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nn").as("qn")))
    qs.join(spread(e.select(col("vec_id").as("nid"), col("q").as("cv"), col("nn").as("cn"))),
        col("qid") =!= col("nid"))
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Matryoshka (prefix-dimension) two-stage search: stage 1 ranks by
    * cosine over only the FIRST `prefixDim` coordinates (MRL-trained
    * embeddings front-load information, so a 16-dim prefix is a real
    * ranking signal at dim/4 of the arithmetic — the nesting-doll
    * compression tier beside sign-bit/int8/PQ); stage 2 re-ranks the
    * shortlist by exact full-dimension cosine. Both stages are exact
    * integer dots + one IEEE division, so the whole cascade is
    * oracle-replayable. At serving scale the prefix slice is what a
    * stored index would materialize — stage 1's compute (and, with a
    * prefix-only index, its I/O) is prefixDim/dim of a full scan. */
  def matryoshkaTopK(emb: DataFrame, queryPred: Column, prefixDim: Int,
      shortlist: Int, k: Int): DataFrame = {
    require(prefixDim >= 1 && shortlist >= k,
      s"need prefixDim >= 1 and shortlist >= k, got $prefixDim, $shortlist < $k")
    val e = prepared(emb)
      .withColumn("qp", slice(col("q"), 1, prefixDim))
      .withColumn("np", dot("qp", "qp"))
    val qs = broadcast(e.filter(queryPred).select(col("vec_id").as("qid"),
      col("q").as("qv"), col("nn").as("qn"),
      col("qp").as("qpv"), col("np").as("qpn")))
    val cand = qs
      .join(spread(e.select(col("vec_id").as("nid"), col("q").as("cv"),
        col("nn").as("cn"), col("qp").as("cpv"), col("np").as("cpn"))),
        col("qid") =!= col("nid"))
      .withColumn("pdp", dot("qpv", "cpv"))
      .withColumn("psim", cosine("pdp", "qpn", "cpn"))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("psim").desc, col("nid"))).cast("long"))
      .filter(col("prank") <= shortlist)
    cand
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** 1-bit-per-dimension SIGN signature, packed into ceil(dim/32) BIGINT
    * words of 32 bits each (32-bit halves, not 64, so no word ever touches
    * the sign bit — the packed values stay identical non-negative integers
    * on every engine). bit i of word w = (embedding[32w+i] > 0). The
    * coarsest tier of the compression ladder (float32 → 32× smaller,
    * below int8's 4× and PQ's 16×): Hamming distance on sign bits is the
    * classic first-stage filter (Charikar's SimHash for vectors). */
  def binarySignature(embedding: String, dim: Int): Column = {
    require(dim % 32 == 0, s"dim must be a multiple of 32: $dim")
    expr(s"""transform(sequence(0, ${dim / 32 - 1}, 1), w ->
      aggregate(transform(slice($embedding, w * 32 + 1, 32),
        (x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
        CAST(0 AS BIGINT), (a, b) -> a + b))""")
  }

  /** Σ popcount(xor) over the signature words — exact integer Hamming. */
  def hammingDistance(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> bit_count(x ^ y)), 0, (s, v) -> s + v)")
      .cast("long")

  /** Two-stage binary ANN: Hamming-on-sign-bits shortlist (`shortlist`
    * nearest signatures per query, ties on nid), then exact
    * integer-quantized cosine re-rank of the shortlist to top-`k` — the
    * standard coarse-filter/exact-verify ladder at 32× compression. At
    * index scale the corpus side carries ONLY the signature words
    * (2 BIGINTs per 64-dim vector); the full vectors join back just for
    * the shortlist re-rank. Every number is exact (integer Hamming,
    * integer dots) so the result is engine-reproducible. */
  def binaryHammingTopK(emb: DataFrame, queryPred: Column, shortlist: Int,
      k: Int, dim: Int = 64): DataFrame = {
    require(shortlist >= k && k >= 1)
    val sig = emb.select(col("vec_id"), quantize("embedding").as("q"),
        binarySignature("embedding", dim).as("sig"))
      .withColumn("nn", dot("q", "q"))
    val qs = broadcast(sig.filter(queryPred)
      .select(col("vec_id").as("qid"), col("sig").as("qsig"),
        col("q").as("qv"), col("nn").as("qn")))
    qs.join(spread(sig.select(col("vec_id").as("nid"), col("sig").as("csig"),
        col("q").as("cv"), col("nn").as("cn"))), col("qid") =!= col("nid"))
      .withColumn("hamming", hammingDistance("qsig", "csig"))
      .withColumn("hrank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("hamming"), col("nid"))))
      .filter(col("hrank") <= shortlist)
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("hamming"), col("sim"), col("rank"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity pass a retrieval stack runs AFTER top-N: greedily pick k
    * results maximizing `λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s)`, so
    * near-duplicate hits don't crowd the result page.
    *
    * Shape for 100 TB: the corpus-sized work is the candidate scan (same
    * broadcast-queries-scan-corpus plan as [[bruteForceTopK]]); everything
    * after operates on Q·n candidate rows and Q·n² candidate-pair rows with
    * n and k small constants (here n ≤ tens) — the greedy loop is k−1
    * driver-SCHEDULED but fully distributed joins over that bounded set, and
    * the running `picked` relation (Q·k rows) broadcasts. No UDFs, no
    * driver-side data, no all-pairs over the corpus. All sims come from
    * exact integer dots, so pick order is engine-reproducible; ties break
    * on nid. */
  def mmrRerank(emb: DataFrame, queryPred: Column, n: Int, k: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    val e = prepared(emb)
    val qs = broadcast(e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nn").as("qn")))
    val cands = qs
      .join(e.select(col("vec_id").as("nid"), col("q").as("cv"), col("nn").as("cn")),
        col("qid") =!= col("nid"))
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= n)
      .select(col("qid"), col("nid"), col("sim"), col("cv"), col("cn"))
      .persist() // reused k times; Q·n rows
    // Pairwise sims among each query's candidates: Q·n(n−1) rows, bounded.
    val pair = cands.select(col("qid"), col("nid").as("a_nid"),
        col("cv").as("av"), col("cn").as("an"))
      .join(cands.select(col("qid"), col("nid").as("b_nid"),
        col("cv").as("bv"), col("cn").as("bn")), Seq("qid"))
      .filter(col("a_nid") =!= col("b_nid"))
      .withColumn("pdp", dot("av", "bv"))
      .withColumn("psim", cosine("pdp", "an", "bn"))
      .select(col("qid"), col("a_nid"), col("b_nid"), col("psim"))
      .persist()
    val slim = cands.select(col("qid"), col("nid"), col("sim"))
    var picked = slim
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nid"), lit(1L).as("pick"), col("sim"))
    for (i <- 2 to k) {
      val sel = broadcast(picked.select(col("qid").as("s_qid"), col("nid").as("s_nid")))
      // max similarity of each unpicked candidate to the picked set
      val red = pair
        .join(sel, pair("qid") === sel("s_qid") && pair("b_nid") === sel("s_nid"))
        .groupBy(col("qid"), col("a_nid"))
        .agg(max(col("psim")).as("max_sel_sim"))
      val next = slim
        .join(sel, slim("qid") === sel("s_qid") && slim("nid") === sel("s_nid"),
          "left_anti")
        .join(red, slim("qid") === red("qid") && slim("nid") === red("a_nid"))
        .drop(red("qid")).drop("a_nid")
        .withColumn("mmr",
          lit(lambda) * col("sim") - lit(1.0 - lambda) * col("max_sel_sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("nid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid"), lit(i.toLong).as("pick"), col("sim"))
      // Q·k rows total: localCheckpoint keeps the loop's lineage flat so
      // round i doesn't re-run rounds 1..i−1's joins.
      picked = picked.unionByName(next).localCheckpoint()
    }
    cands.unpersist(); pair.unpersist()
    picked
  }

  /** Deterministic pseudo-random hyperplanes (ints in [-1000, 1000]) derived
    * from md5 — reproducible across runs/engines, embeddable as literals. */
  def planes(numPlanes: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(numPlanes, dim)((p, j) => Hashing.hash64Local(s"plane:$p:$j") % 2001L - 1000L)

  /** Embedding dimensionality probed from the first non-null row (one tiny
    * job). Hardcoding a dim would silently bucket wider embeddings by their
    * first coordinates only — a hidden recall cliff. Fails with a clear
    * message on an empty/all-null frame (pass `dim` explicitly there). */
  def probeDim(emb: DataFrame, embCol: String = "embedding"): Int = {
    val first = emb.filter(col(embCol).isNotNull).select(size(col(embCol))).limit(1).collect()
    if (first.isEmpty)
      throw new IllegalArgumentException(
        s"cannot probe embedding dim of an empty frame — pass dim explicitly")
    first.head.getInt(0)
  }

  /** Adds a sign-bucket column from `numPlanes` hyperplane sign bits.
    * `dim` must match the embedding dimensionality (probe with [[probeDim]]
    * when unknown). A mismatched dim FAILS the job with a clear error at
    * the first row — neither the old silent recall cliff (prefix
    * projection) nor an empty result a caller could mistake for "no
    * near-duplicates found". */
  def lshBuckets(emb: DataFrame, numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val e = prepared(emb)
    val pl = planes(numPlanes, dim)
    val bits = (0 until numPlanes).map { p =>
      when(graft.expressions.DotProductLong(col("q"), typedlit(pl(p).toSeq)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    e.withColumn("bucket",
      when(size(col("q")) === dim, bits).otherwise(raise_error(format_string(
        s"lshBuckets: embedding dim %s != configured dim $dim", size(col("q"))))))
  }

  /** Metadata-FILTERED exact top-k (the "filtered vector search" serving
    * shape): the candidate predicate applies BEFORE ranking — pre-filter,
    * so k survivors are guaranteed (post-filtering an unfiltered top-k
    * can return fewer than k or none when the filter is selective). The
    * filter pushes into the corpus scan (one predicate on the scan node);
    * everything else is [[bruteForceTopK]]'s broadcast shape. */
  def bruteForceTopKFiltered(emb: DataFrame, queryPred: Column,
      candPred: Column, k: Int): DataFrame = {
    val e = emb.withColumn("__cand", candPred)
    val prep = e.select(col("vec_id"), quantize("embedding").as("q"), col("__cand"))
      .withColumn("nn", dot("q", "q"))
    val qs = broadcast(e.filter(queryPred)
      .select(col("vec_id").as("qid"), quantize("embedding").as("qv"))
      .withColumn("qn", dot("qv", "qv")))
    qs.join(spread(prep.filter(col("__cand"))
        .select(col("vec_id").as("nid"), col("q").as("cv"), col("nn").as("cn"))),
        col("qid") =!= col("nid"))
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Contrastive training triples — the embedding-model training-data op:
    * for each anchor, its strongest in-bucket POSITIVE (sim ≥ `posThr`)
    * and its HARDEST in-bucket negative (highest sim strictly below
    * `negThr` — the near-miss that actually teaches the margin; a random
    * negative is trivially separable). Candidates come from the same LSH
    * bucket equi-join as every near-dup path — no all-pairs; anchors whose
    * bucket yields no positive or no negative drop out (inner join).
    * One bucket join + two ranks in the same anchor-keyed shuffle. */
  def contrastiveTriples(emb: DataFrame, anchorPred: Column,
      posThr: Double = 0.3, negThr: Double = 0.3,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    require(negThr <= posThr, "hard-negative band must sit below the positive band")
    val e = lshBuckets(emb, numPlanes, dim)
    val anchors = e.filter(anchorPred).select(col("vec_id").as("qid"),
      col("q").as("qv"), col("nn").as("qn"), col("bucket"))
    val pairs = anchors
      .join(e.select(col("vec_id").as("nid"), col("q").as("cv"),
        col("nn").as("cn"), col("bucket")), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .select(col("qid"), col("nid"), col("sim"))
      .persistTracked()
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val pos = pairs.filter(col("sim") >= posThr)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("nid").as("pos_id"), col("sim").as("pos_sim"))
    val neg = pairs.filter(col("sim") < negThr)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("nid").as("neg_id"), col("sim").as("neg_sim"))
    pos.join(neg, Seq("qid"))
  }

  /** IVF-style ANN probe: neighbors are ranked ONLY within the query's LSH
    * bucket — the index shape for corpus-scale search (the bucket column is
    * the "inverted file"; a production index persists the corpus bucketed/
    * sorted by it and prunes the scan to probed buckets). Recall trades off
    * with `numPlanes`; may return fewer than k when the bucket is small. */
  def ivfProbeTopK(emb: DataFrame, queryPred: Column, k: Int, numPlanes: Int = 8,
      dim: Int = -1): DataFrame = {
    val e = lshBuckets(emb, numPlanes, if (dim > 0) dim else probeDim(emb))
    rankInBucket(e.filter(queryPred), e, k)
  }

  /** The persistable IVF index of a corpus: (vec_id, bucket, q, nn) — its
    * quantized vectors clustered by hyperplane-sign bucket, ready for
    * `Catalog.writeSorted(..., "bucket")` so probed buckets prune to a few
    * files. Unlike the LSH TEXT band index (ids+bands only), this index
    * STORES the quantized coordinates: ANN scoring needs them, and k longs
    * per vector is the index's natural payload — a production IVF file
    * holds exactly this. Probe with [[ivfProbeTopKIndexed]] using the SAME
    * `numPlanes`/`dim` (plane signs are baked into the bucket values). */
  def buildIvfIndex(emb: DataFrame, numPlanes: Int = 8, dim: Int = -1): DataFrame =
    lshBuckets(emb, numPlanes, if (dim > 0) dim else probeDim(emb))
      .select(col("vec_id"), col("bucket"), col("q"), col("nn"))

  /** ANN top-k against a PRE-BUILT IVF index ([[buildIvfIndex]]): only the
    * (small) query set is quantized and bucketed at query time; the corpus
    * contributes nothing but the stored index scan — the recurring shape
    * where one 100 TB embedding corpus serves many retrieval batches. */
  def ivfProbeTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = -1): DataFrame =
    rankInBucket(
      lshBuckets(queries, numPlanes, if (dim > 0) dim else probeDim(queries)),
      index, k)

  /** INT8 variant of [[buildIvfIndex]]: (vec_id, bucket, v8: array<tinyint>,
    * scale, nn8) — per-vector symmetric max-abs quantization
    * ([[int8Components]]'s formula) applied to the index payload, cutting
    * stored vector bytes ~8× vs the long-array full-width index (the 100 TB
    * index-storage lever). Buckets come from the FULL-WIDTH signs (the
    * coarse quantizer must not move when the payload is compressed);
    * `scale` reconstructs values (v8·scale, within scale/2 per component);
    * nn8 = Σv8² is the stored norm, exact. */
  def buildIvfIndexInt8(emb: DataFrame, numPlanes: Int = 8, dim: Int = -1): DataFrame =
    lshBuckets(emb, numPlanes, if (dim > 0) dim else probeDim(emb))
      .withColumn("mx", expr("array_max(transform(q, x -> abs(x)))"))
      .withColumn("v8", expr(
        "transform(q, x -> CAST(CASE WHEN mx = 0 THEN 0 " +
          "ELSE floor(x * 127.0 / mx + 0.5) END AS TINYINT))"))
      .select(col("vec_id"), col("bucket"), col("v8"),
        (col("mx").cast("double") / 127).as("scale"),
        graft.expressions.DotProductLong(
          expr("transform(v8, x -> CAST(x AS BIGINT))"),
          expr("transform(v8, x -> CAST(x AS BIGINT))")).as("nn8"))

  /** Probe the INT8 index: queries quantize full-width at query time and
    * rank candidates on the RECONSTRUCTED corpus vectors. Cosine is
    * scale-invariant — cos(q, s·v8) ≡ cos(q, v8) exactly (s > 0 cancels in
    * numerator and norm) — so the ranking arithmetic never touches `scale`:
    * exact integer dot/norms over the int8 codes, one IEEE divide/sqrt,
    * bit-reproducible on any engine. Rank displacement vs the full-width
    * index is bounded by the quantization error (≤ scale/2 per component;
    * spec-pinned sim-error bound). */
  def ivfProbeTopKIndexedInt8(index: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = -1): DataFrame =
    rankInBucket(
      lshBuckets(queries, numPlanes, if (dim > 0) dim else probeDim(queries)),
      index.select(col("vec_id"),
        expr("transform(v8, x -> CAST(x AS BIGINT))").as("q"),
        col("nn8").as("nn"), col("bucket")),
      k)

  /** Bucket-equality candidate join + exact ranked verify, shared by the
    * inline and indexed probes (and by [[KMeans.ivfProbeTopK]], which uses
    * learned centroids as the coarse quantizer instead of hyperplane
    * signs). `qs`/`cands` carry (vec_id, q, nn, bucket). */
  private[operators] def rankInBucket(qs: DataFrame, cands: DataFrame, k: Int): DataFrame =
    qs.select(col("vec_id").as("qid"), col("q").as("qv"), col("nn").as("qn"), col("bucket"))
      .join(cands.select(
        col("vec_id").as("nid"), col("q").as("cv"), col("nn").as("cn"), col("bucket")),
        Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dp", dot("qv", "cv"))
      .withColumn("sim", cosine("dp", "qn", "cn"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))

  /** Johnson-Lindenstrauss random projection to `outDim` components —
    * the pre-ANN compression step (shrink 100 TB of wide embeddings before
    * indexing; pairwise distances are preserved within the JL bound).
    * Deterministic hash-derived integer planes (the [[planes]] family, same
    * reproducibility story as [[lshBuckets]]) and exact integer dots, so
    * the projection is bit-identical on any parallelism/engine. LONG-ROW
    * output (vec_id, pos, value) — pure map over the corpus scan, zero
    * shuffles; `array_agg(sort by pos)` reassembles a vector column. */
  def randomProjection(emb: DataFrame, outDim: Int, dim: Int = -1,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val d = if (dim > 0) dim else probeDim(emb, embCol)
    val pl = planes(outDim, d)
    val comps = (0 until outDim).map { p =>
      struct(lit(p.toLong).as("pos"),
        graft.expressions.DotProductLong(col("q"), typedlit(pl(p).toSeq)).as("value"))
    }
    emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        when(size(col(embCol)) === d, quantize(embCol)).otherwise(raise_error(format_string(
          s"randomProjection: embedding dim %s != configured dim $d",
          size(col(embCol))))).as("q"))
      .select(col("vec_id"), explode(array(comps: _*)).as("c"))
      .select(col("vec_id"), col("c.pos").as("pos"), col("c.value").as("value"))
  }

  /** INT8 embedding compression in long-row form: (vec_id, pos, v8,
    * scale) — each vector's quantized components rescaled to [-127, 127]
    * by its own max-abs (symmetric per-vector quantization, the standard
    * 4× storage cut applied to a 100 TB embedding store before any index
    * is built; reconstruction v8·scale is within scale/2 per component).
    * Pure map over the corpus scan, zero shuffles. Deterministic across
    * engines: components and max-abs are exact integers, the rescale is
    * one IEEE multiply/divide and a floor(x+0.5) — identical everywhere.
    * All-zero vectors emit v8 = 0 with scale 0. */
  def int8Components(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), quantize(embCol).as("q"))
      .withColumn("mx", expr("array_max(transform(q, x -> abs(x)))"))
      .select(col("vec_id"), col("mx"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        when(col("mx") === 0, lit(0L)).otherwise(
          floor(col("v") * lit(127.0) / col("mx") + lit(0.5)).cast("long")).as("v8"),
        (col("mx").cast("double") / 127).as("scale"))

  /** Per-group mean embedding (average pooling) in LONG-ROW form:
    * (group, pos, centroid) — one posexplode + hash aggregate, the
    * cluster-centroid / class-prototype step of an embedding pipeline.
    * Arithmetic is exact: quantized integer sums (order-independent),
    * one double division at the end. Row form avoids array re-assembly;
    * `array_agg(sort by pos)` reassembles when a vector column is needed. */
  def groupCentroids(emb: DataFrame, groupExpr: Column,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    emb.select(groupExpr.as("grp"), quantize(embCol).as("q"))
      .select(col("grp"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("grp"), col("pos").cast("long").as("pos"))
      .agg((sum(col("v")) / count(lit(1))).as("centroid"),
        count(lit(1)).as("n_vectors"))

  /** Embedding-cosine near-dup pairs within LSH buckets (sim ≥ threshold). */
  def nearDuplicates(emb: DataFrame, threshold: Double = 0.8, numPlanes: Int = 8,
      dim: Int = -1): DataFrame = {
    // both sides of the self-join read the same quantize + numPlanes-dot
    // bucketing — persist it once instead of re-deriving per side
    // (released via CacheGuard.scoped; corpus-row-sized, spills to disk)
    val e = lshBuckets(emb, numPlanes, if (dim > 0) dim else probeDim(emb))
      .persistTracked()
    val a = e.select(col("vec_id").as("id1"), col("q").as("q1"), col("nn").as("n1"), col("bucket"))
    val b = e.select(col("vec_id").as("id2"), col("q").as("q2"), col("nn").as("n2"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id1") < col("id2"))
      .withColumn("dp", dot("q1", "q2"))
      .withColumn("sim", cosine("dp", "n1", "n2"))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Similarity histogram over LSH candidate pairs: the threshold-
    * calibration tool — before committing to "drop at cosine ≥ X", look at
    * where the candidate mass actually sits (a clean corpus shows a
    * near-1 dup spike well separated from the background bulk; a smeared
    * histogram means the threshold will trade precision for recall and
    * the cut deserves a manual audit). Same bucket-join candidate
    * generation as [[nearDuplicates]] (never all-pairs); sims bin at
    * floor(sim·scale) — the sim doubles are bit-identical cross-engine
    * (integer dots + one IEEE divide), so even bin-edge values land
    * identically. Output is bin-cardinality-sized. */
  def similarityHistogram(emb: DataFrame, numPlanes: Int = 8, dim: Int = -1,
      scale: Int = 20): DataFrame = {
    // same self-join device as nearDuplicates: one persisted bucketing
    val e = lshBuckets(emb, numPlanes, if (dim > 0) dim else probeDim(emb))
      .persistTracked()
    val a = e.select(col("vec_id").as("id1"), col("q").as("q1"), col("nn").as("n1"), col("bucket"))
    val b = e.select(col("vec_id").as("id2"), col("q").as("q2"), col("nn").as("n2"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id1") < col("id2"))
      .withColumn("dp", dot("q1", "q2"))
      .withColumn("sim", cosine("dp", "n1", "n2"))
      .withColumn("bin", floor(col("sim") * scale).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), min(col("sim")).as("min_sim"),
        max(col("sim")).as("max_sim"))
  }

  /** Incremental embedding near-dup: each NEW batch vector against an
    * EXISTING corpus of raw embeddings — the recurring-ingest shape the
    * MinHash family has ([[graft.operators.TextDedup.minhashLshIncremental]]),
    * on the vector side. Batch buckets equi-join corpus buckets, so there
    * is NO corpus self-join: candidate volume is O(batch × bucket
    * collisions). When the corpus is already indexed, use
    * [[nearDuplicatesIndexed]] — it consumes [[buildIvfIndex]]'s stored
    * bucket/q/nn columns directly instead of re-deriving them. Returns
    * (batch_id, corpus_id, sim ≥ threshold). */
  def nearDuplicatesIncremental(corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, numPlanes: Int = 8, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else probeDim(corpus)
    nearDuplicatesIndexed(
      lshBuckets(corpus, numPlanes, d)
        .select(col("vec_id"), col("bucket"), col("q"), col("nn")),
      batch, threshold, numPlanes, d)
  }

  /** [[nearDuplicatesIncremental]] against a PRE-BUILT IVF index
    * ([[buildIvfIndex]] → catalog, columns (vec_id, bucket, q, nn)): the
    * corpus contributes nothing but the stored index scan — no
    * re-quantization, no re-bucketing. Query with the SAME
    * `numPlanes`/`dim` used at build time (plane signs are baked into the
    * stored bucket values). */
  def nearDuplicatesIndexed(index: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, numPlanes: Int = 8, dim: Int = -1): DataFrame = {
    val c = index.select(col("vec_id").as("corpus_id"), col("q").as("q2"),
      col("nn").as("n2"), col("bucket"))
    // The BATCH is the small side by the shape's definition (a recurring
    // ingest against a standing corpus), so hint it broadcast: the corpus/
    // index side then STREAMS — no corpus shuffle at any scale, the same
    // reason the probe families broadcast their query sets. A batch too
    // large to broadcast is not this operator's shape (run nearDuplicates
    // on the union instead). spread() the streamed index side: the
    // per-pair dot loop runs in its partitioning.
    spread(c).join(broadcast(
        lshBuckets(batch, numPlanes, if (dim > 0) dim else probeDim(batch))
          .select(col("vec_id").as("batch_id"), col("q").as("q1"),
            col("nn").as("n1"), col("bucket"))), Seq("bucket"))
      .withColumn("dp", dot("q1", "q2"))
      .withColumn("sim", cosine("dp", "n1", "n2"))
      .filter(col("sim") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("sim"))
  }

  /** Bitext / cross-corpus pair mining with the MARGIN criterion (Artetxe &
    * Schwenk 2019 — the LASER/CCMatrix recipe): for every source vector,
    * its best target match is accepted only when the best score clearly
    * BEATS the runner-up — absolute-threshold mining over-collects in
    * dense regions and starves sparse ones; the margin self-calibrates.
    * Here margin is the exact-integer ratio test
    *   accept ⟺ s1 > 0 ∧ (s2 ≤ 0 ∨ s1·10⁶ ≥ marginFpMin·s2)
    * over quantized dot products (s1 = best, s2 = second best; one integer
    * compare, no division — bit-identical cross-engine).
    *
    * Fixture-scale form is the exact cross join + per-source top-2 (the
    * [[q_x_embed_topk]] shape, WindowGroupLimit keeps partial top-k before
    * the exchange); at corpus scale route BOTH sides through the same IVF
    * coarse buckets first ([[lshBuckets]] / KMeans coarse centroids) so
    * candidate volume tracks match density — the margin arithmetic is
    * unchanged. Output: one row per source vector with its best target,
    * both scores, and the accept verdict. */
  def mineBitextExact(src: DataFrame, tgt: DataFrame,
      marginFpMin: Long = 1050000L, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val a = spread(src.filter(col(embCol).isNotNull)
      .select(col(idCol).as("src_id"), quantize(embCol).as("qa")))
    val b = tgt.filter(col(embCol).isNotNull)
      .select(col(idCol).as("tgt_id"), quantize(embCol).as("qb"))
    marginTop2(a.crossJoin(b)
      .select(col("src_id"), col("tgt_id"),
        graft.expressions.DotProductLong(col("qa"), col("qb")).as("dot")),
      marginFpMin)
  }

  /** The O(|src|·|tgt|) dot-product loop runs in the STREAMED side's
    * partitioning (the broadcast join computes pair scores before any
    * exchange), so a small corpus scanned as one parquet split serializes
    * the whole quadratic loop on a single core — measured 4.9 s of the
    * exact miner's 5.4 s at sf1. Repartition UP to default parallelism
    * when narrower; an already-wide input (the 100 TB case) passes through
    * untouched, so no data-sized shuffle is added at scale. Forces plan
    * construction of `df` (a `.rdd` partition probe), same documented
    * tradeoff as Multimodal.spread. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Corpus-scale bitext mining: [[mineBitextExact]]'s margin criterion with
    * candidate generation routed through SHARED IVF coarse buckets — the
    * CCMatrix recipe at its real scale. Both sides hash through the SAME
    * [[lshBuckets]] hyperplanes, so candidates come from one bucket
    * equi-join: O(Σ_bucket |src_b|·|tgt_b|) pairs that track match density,
    * instead of the exact form's all-pairs |src|·|tgt| cross join. The
    * margin arithmetic is UNCHANGED (one integer compare over the in-bucket
    * best/runner-up dots). Approximation is standard IVF: a source whose
    * true best target hashes elsewhere mines a different (or no) pair, and
    * the runner-up is the in-bucket runner-up; a source with an empty
    * candidate bucket emits no row — at corpus scale that IS the intent
    * (nothing close enough to mine). 100 TB posture: each side shuffles
    * once on `bucket`; the per-source top-2 window rides the join's
    * partitioning with WindowGroupLimit keeping partial top-2 ahead of the
    * exchange; skewed buckets split under AQE. */
  def mineBitextIvf(src: DataFrame, tgt: DataFrame,
      marginFpMin: Long = 1050000L, numPlanes: Int = 4, dim: Int = -1,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val d = if (dim > 0) dim else probeDim(src, embCol)
    def side(df: DataFrame, out: String) =
      lshBuckets(df.filter(col(embCol).isNotNull)
          .select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
        numPlanes, d)
        .select(col("vec_id").as(out), col("q").as(s"__q_$out"), col("bucket"))
    marginTop2(spread(side(src, "src_id")).join(side(tgt, "tgt_id"), Seq("bucket"))
      .select(col("src_id"), col("tgt_id"),
        graft.expressions.DotProductLong(col("__q_src_id"), col("__q_tgt_id"))
          .as("dot")),
      marginFpMin)
  }

  /** Shared tail of the bitext miners: per-source top-2 over candidate
    * (src_id, tgt_id, dot) rows, then the fixed-point margin verdict. */
  private def marginTop2(pairs: DataFrame, marginFpMin: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("dot").desc, col("tgt_id"))
    pairs
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 2)
      .groupBy(col("src_id"))
      .agg(max(when(col("__rk") === 1, col("tgt_id"))).as("tgt_id"),
        max(when(col("__rk") === 1, col("dot"))).as("s1"),
        max(when(col("__rk") === 2, col("dot"))).as("s2"))
      .select(col("src_id"), col("tgt_id"), col("s1"), col("s2"),
        (col("s1") > 0 && (coalesce(col("s2"), lit(0L)) <= 0 ||
          col("s1") * lit(1000000L) >= lit(marginFpMin) * col("s2")))
          .as("accepted"))
  }

  /** One-row hygiene census of an embedding column — the ingest gate a
    * vector pipeline runs before indexing a new batch (a single bad
    * encoder shard ships NULLs, zero vectors, or wrong-dimension rows, and
    * every downstream cosine silently degrades): counts of NULL / all-zero
    * / near-zero (quantized norm² < `tinyNorm2`, the degenerate-similarity
    * trap) / wrong-dimension vectors, plus the exact quantized-norm² range.
    * All outputs are BIGINT counts or single-vector norms — no
    * corpus-sized sums, so nothing overflows at any corpus size. ONE
    * map-side pass + a 1-row aggregate; composes with incremental ingest
    * by running on the batch slice alone. */
  def embeddingAudit(emb: DataFrame, expectedDim: Int, tinyNorm2: Long = 10000L,
      embCol: String = "embedding"): DataFrame = {
    val n2 = graft.expressions.DotProductLong(quantize(embCol), quantize(embCol))
    emb.select(col(embCol).isNull.as("is_null"),
        when(col(embCol).isNotNull, n2).as("norm2"),
        when(col(embCol).isNotNull, size(col(embCol))).as("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(col("is_null"), lit(1))).as("n_null"),
        count(when(col("norm2") === 0L, lit(1))).as("n_zero"),
        count(when(col("norm2") > 0L && col("norm2") < tinyNorm2, lit(1)))
          .as("n_tiny"),
        count(when(!col("is_null") && col("dim") =!= expectedDim, lit(1)))
          .as("n_wrong_dim"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"))
  }
}
