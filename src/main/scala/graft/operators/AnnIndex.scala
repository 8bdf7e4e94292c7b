package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim

/** Standing IVF (ANN) index as a TABLE — the vector-space sibling of
  * [[DedupIndex]] (reference analog: the memo dict reused across work
  * items, `app.py:112,218` — standing state consulted and extended per
  * batch instead of recomputed).
  *
  * Layout under `indexDir`:
  *  - `centroids/` — (centroid_id, centv): the coarse quantizer, FROZEN
  *    at build time. Appends assign against these same centroids, so an
  *    index grown over many batches is assignment-identical to one built
  *    from scratch over the union (proved in `AnnIndexSpec`).
  *  - `vectors/` — (vec_id, embedding) partitioned by `centroid_id`: the
  *    assigned corpus. A probe's top-nprobe centroid join prunes the scan
  *    to the probed centroids' own files (PartitionFilters — the
  *    ScaleOpsSpec pruning proof, now a first-class lifecycle).
  *
  * Lifecycle: `build` writes quantizer + first slice, `append` adds a
  * batch (blind parquet appends — the corpus is never rescanned, ingest
  * cost is O(|batch|)), `probe` answers top-k queries against the CURRENT
  * index, `optimize` compacts accumulated small append files
  * (fingerprint-validated, partitioning preserved).
  *
  * The assignment and search shapes are SHARED with q40/q51 (in-query
  * IVF) via [[assignCosine]]/[[searchAssigned]], so the persisted path
  * cannot drift from the oracle-verified one — q253 drives
  * build→append→probe for real and is checked against q51's own oracle
  * (the answer depends only on index content).
  *
  * 100 TB design: centroids are broadcast-tiny; the only per-batch
  * shuffle is the assignment argmax (one row per vector); probes touch
  * only probed partitions and shuffle only the leaf candidates.
  */
object AnnIndex {

  private def centroidsPath(indexDir: String): String = s"$indexDir/centroids"
  private def vectorsPath(indexDir: String): String = s"$indexDir/vectors"
  private def codebooksPath(indexDir: String): String = s"$indexDir/codebooks"
  private def tombstonesPath(indexDir: String): String = s"$indexDir/tombstones"
  private def fitStatsPath(indexDir: String): String = s"$indexDir/fitstats"

  def exists(indexDir: String): Boolean =
    new File(centroidsPath(indexDir)).isDirectory &&
      new File(vectorsPath(indexDir)).isDirectory

  /** Create the index: freeze `centroids` (centroid_id, centv) as the
    * coarse quantizer and write the assigned first slice, replacing any
    * prior content at `indexDir`. With `codebooks` (code, cv) the index
    * ALSO stores each vector's PQ code array — frozen like the quantizer,
    * so batch-grown code columns equal from-scratch ones by construction —
    * enabling the compressed-domain [[probePq]] read path. */
  def build(embeddings: DataFrame, centroids: DataFrame, indexDir: String,
      codebooks: Option[DataFrame] = None): Unit = {
    // a fresh build replaces everything — stale tombstones from a prior
    // index at the same path would suppress legitimately re-used ids
    DedupIndex.clearDir(tombstonesPath(indexDir))
    centroids.select("centroid_id", "centv")
      .write.mode("overwrite").parquet(centroidsPath(indexDir))
    codebooks.foreach(_.select("code", "cv")
      .write.mode("overwrite").parquet(codebooksPath(indexDir)))
    writeVectors(embeddings, centroids.select("centroid_id", "centv"),
      indexDir, "overwrite", codebooks.map(_.select("code", "cv")))
  }

  /** Add a batch to an existing index. The FROZEN quantizer (and PQ
    * codebooks, when the index carries them) is read back and the batch
    * assigned/encoded against it — blind parquet appends, no
    * read-modify-write. */
  def append(spark: SparkSession, embeddings: DataFrame, indexDir: String): Unit =
    writeVectors(embeddings, spark.read.parquet(centroidsPath(indexDir)),
      indexDir, "append",
      if (new File(codebooksPath(indexDir)).isDirectory)
        Some(spark.read.parquet(codebooksPath(indexDir))) else None)

  /** Drift-aware REBUILD into a new generation dir (r18 — the action the
    * q307/q309 retrain trigger advises): retrain the coarse quantizer
    * over the index's LIVE (tombstone-filtered) vectors, re-assign every
    * live vector against it, and write a fresh index at `outIndexDir` —
    * the Generations publish/retire choreography is the caller's
    * (AnnIndexMain `reindex` + `publish`; the maintained streaming loops'
    * cadence). Specifics:
    *
    *  - retraining is ONE Lloyd step under the index's own assignment
    *    metric (rounded cosine, lowest-id tie-break): seeds = the `k`
    *    lowest-vec_id live vectors, then per-dimension member means —
    *    float32-derived doubles sum exactly in f64, so the means are
    *    order-independent and the float round-trip is deterministic
    *    (the q78 parity discipline). Content-determined, so a reindexed
    *    grown index probes identically to one built from scratch over
    *    the survivors — q315's oracle hash-checks exactly that;
    *  - PQ codebooks, when present, are CARRIED (codes are recomputed by
    *    the build, identically — encoding depends only on the codebooks):
    *    the drift statistic the reindex answers is coarse-quantizer fit;
    *    codebook retraining would be this same discipline per subspace;
    *  - the fit ledger RESETS: a fresh "build" anchor row over the live
    *    vectors against the NEW quantizer lands at `outIndexDir` (drops
    *    are meaningless across quantizers); the old ledger stays with
    *    the old generation for history.
    *
    * 100 TB: seeds are a k-row TakeOrdered; the Lloyd step is one
    * broadcast-assign + one (centroid, dim) aggregation shuffle; the
    * rebuild itself is [[build]]'s one assignment pass — all linear, no
    * step rescans more than the live corpus once. */
  def reindex(spark: SparkSession, indexDir: String, outIndexDir: String,
      k: Int = 8): Unit = {
    require(new File(indexDir).getCanonicalPath !=
        new File(outIndexDir).getCanonicalPath,
      s"reindex: outIndexDir must differ from indexDir ($indexDir)")
    val live = liveVectors(spark, indexDir).select("vec_id", "embedding")
      .localCheckpoint(eager = true) // one materialization feeds seed/assign/build
    val cent = retrainCentroids(live, k)
    val cb =
      if (new File(codebooksPath(indexDir)).isDirectory)
        Some(spark.read.parquet(codebooksPath(indexDir)))
      else None
    build(live, cent, outIndexDir, cb)
    recordFitStats(spark, live, outIndexDir, "build")
  }

  /** One cosine-metric Lloyd step from the k lowest-id seeds — the
    * retrained quantizer (centroid_id = seed vec_id, centv ARRAY<FLOAT>).
    * A seed whose cluster is empty cannot occur (each seed assigns to
    * itself at cosine 1.0, losing ties only to a parallel lower-id seed —
    * in which case the two clusters merge, exactly as from scratch). */
  private[graft] def retrainCentroids(live: DataFrame, k: Int): DataFrame = {
    val seeds = live.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    assignCosine(live, seeds)
      .select(col("centroid_id"),
        posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("pos", "v")))
      .groupBy("centroid_id", "pos").agg(avg("v").as("m"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("centroid_id"),
        transform(col("pm"), p => p.getField("m").cast("float")).as("centv"))
  }

  /** Record a batch's quantizer-FIT statistics beside the index (r17 —
    * the standing form of the q307 drift audit): one blind 1-row append
    * to `fitstats/` per ingest batch, computed from the batch alone
    * against the frozen quantizer — O(|batch|), the corpus is never
    * rescanned. The per-vector argmax is the index's own assignment
    * shape ([[assignCosine]]'s max_by), so the statistic measures exactly
    * the assignment the stored vectors received. Call it beside `build`
    * (batchId "build" anchors the ledger) and each `append`. */
  def recordFitStats(spark: SparkSession, embeddings: DataFrame,
      indexDir: String, batchId: String): Unit = {
    val cent = spark.read.parquet(centroidsPath(indexDir))
    embeddings.select("vec_id", "embedding").join(broadcast(cent))
      .withColumn("ascore",
        round(cosine_sim(col("centv"), col("embedding")), 4))
      .groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col("ascore")),
        struct(col("ascore"), -col("centroid_id"))).as("b"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(floor(b.ascore * 10000) AS BIGINT)")).as("sum_assign_e4"),
        countDistinct(col("b.centroid_id")).as("n_cent_used"))
      .withColumn("batch_id", lit(batchId))
      // an EMPTY batch would write n_vecs=0 with NULL sum_assign_e4, and
      // fitLedger would then emit null statistics for it (a null "build"
      // anchor would nullify every drop) — skip the row instead (r17
      // ADVICE); the filter is blind, no extra action
      .filter(col("n_vecs") > 0)
      .coalesce(1)
      .write.mode("append").parquet(fitStatsPath(indexDir))
  }

  /** The standing retrain-trigger read: every recorded batch's mean
    * assignment fit (e4-integerized), its drop vs the "build" anchor
    * batch, and `reindex_advised` at a >= `dropE4` (default 0.01 cosine)
    * decay — the q307 audit's verdict, answered from the persisted
    * 1-row-per-batch ledger instead of a corpus scan. */
  def fitLedger(spark: SparkSession, indexDir: String,
      dropE4: Long = 100L): DataFrame = {
    val st = spark.read.parquet(fitStatsPath(indexDir))
      .withColumn("mean_assign_e4", expr("sum_assign_e4 div n_vecs"))
    val anchor = st.filter(col("batch_id") === "build")
      .select(col("mean_assign_e4").as("base_e4"))
    // fail loudly, not emptily: without exactly one "build" anchor the
    // cross join would silently return an empty (or row-duplicated)
    // ledger — a missing anchor means recordFitStats was never called at
    // build time, a doubled one that it was re-recorded. The anchor's
    // mean must also be non-null (r17 ADVICE: a null anchor — possible
    // only in legacy state written before the empty-batch guard — would
    // silently nullify every drop_e4/reindex_advised downstream).
    val anchorRows = anchor.collect()
    require(anchorRows.length == 1,
      s"fitLedger: expected exactly one 'build' fit-stats row at $indexDir, found ${anchorRows.length}")
    require(!anchorRows.head.isNullAt(0),
      s"fitLedger: the 'build' anchor at $indexDir has null mean_assign_e4 (empty build batch?)")
    st.crossJoin(broadcast(anchor))
      .select(col("batch_id"), col("n_vecs").cast("long").as("n_vecs"),
        col("mean_assign_e4").cast("long").as("mean_assign_e4"),
        col("n_cent_used").cast("long").as("n_cent_used"),
        (col("base_e4") - col("mean_assign_e4")).cast("long").as("drop_e4"),
        ((col("base_e4") - col("mean_assign_e4")) >= dropE4)
          .cast("long").as("reindex_advised"))
      .orderBy("batch_id")
  }

  /** Delete vectors from the index: a blind append of their ids to the
    * tombstone table — O(|removed|), no rewrite. Probes (both the cosine
    * and the IVF-PQ path) exclude tombstoned vectors before scoring, so a
    * grown-then-tombstoned index answers exactly like one built from the
    * survivors (assignment is per-vector against the frozen quantizer, so
    * no boundary interaction exists — proved in `AnnIndexSpec`).
    * `optimize` physically drops tombstoned rows and emits a generation
    * with no tombstone table. */
  def remove(vecIds: DataFrame, indexDir: String): Unit =
    vecIds.select(col("vec_id"))
      .write.mode("append").parquet(tombstonesPath(indexDir))

  /** The index's LIVE vectors: raw table minus tombstoned ids (the
    * tombstone set is delta-sized — AQE broadcasts the anti join). */
  private def liveVectors(spark: SparkSession, indexDir: String): DataFrame = {
    val raw = spark.read.parquet(vectorsPath(indexDir))
    if (new File(tombstonesPath(indexDir)).isDirectory)
      raw.join(spark.read.parquet(tombstonesPath(indexDir))
        .select("vec_id").distinct(), Seq("vec_id"), "left_anti")
    else raw
  }

  private def writeVectors(e: DataFrame, cent: DataFrame, indexDir: String,
      mode: String, codebooks: Option[DataFrame]): Unit = {
    val assigned = assignCosine(e.select("vec_id", "embedding"), cent)
    val out = codebooks match {
      case Some(cw) =>
        assigned.join(pqEncode(e.select("vec_id", "embedding"), cw), Seq("vec_id"))
      case None => assigned
    }
    out.write.mode(mode).partitionBy("centroid_id").parquet(vectorsPath(indexDir))
  }

  // ---- PQ (compressed-domain) read path ----------------------------------

  /** Squared L2 between one 16-dim subspace slice of `a` and the codeword
    * column `cv` — q76/q99's shared formula (sequential fold, so the raw
    * doubles are bit-equal to the oracle's list comprehension). Expects
    * `subspace` and `cv` columns in scope. A native codegen'd loop:
    * pqEncode runs this |vectors|×|codewords|×|subspaces| times, and the
    * interpreted zip_with/aggregate fold paid a lambda dispatch per
    * element. Parity with that fold is pinned in VectorMathSpec. */
  private def subL2(a: Column): Column =
    org.apache.spark.sql.graft.VectorMath.slice_l2sq(
      a, col("cv"), (col("subspace") * 16 + 1).cast("int"), lit(16))

  private def subspaces: Column = explode(array((0 until 4).map(lit(_)): _*))

  /** q76's per-subspace codeword argmin, emitted as one 4-int `codes`
    * array per vector. Map-side: the codebook broadcast joins 16 rows per
    * vector, the argmin is a partial min_by, the array rebuild is one more
    * keyed aggregation. */
  private[graft] def pqEncode(vectors: DataFrame, cw: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("embedding"))
      .withColumn("subspace", subspaces)
      .join(broadcast(cw))
      .withColumn("dist", subL2(col("embedding")))
      .groupBy("vec_id", "subspace")
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** IVF-PQ search against the standing index — the full production ANN
    * read path: the probe prunes to the top-`nprobe` centroids' OWN
    * partitions (the q253 DPP discipline), candidates are scored in the
    * compressed domain (ADC: per-query LUT broadcast against the stored
    * 4-byte codes — the embedding column is never read for scoring), the
    * ADC top-`shortlistK` joins back to raw vectors for exact L2, and the
    * re-rank's top-`topK` is served. The ADC sum is the fixed-order
    * d0+d1+d2+d3 (q99's cross-engine determinism trick). */
  def probePq(spark: SparkSession, queries: DataFrame, indexDir: String,
      nprobe: Int = 2, shortlistK: Int = 32, topK: Int = 5): DataFrame = {
    val cent = spark.read.parquet(centroidsPath(indexDir))
    val cw = spark.read.parquet(codebooksPath(indexDir))
    val vecs = liveVectors(spark, indexDir)
    val wQ = Window.partitionBy("qid").orderBy(desc("qscore"), asc("centroid_id"))
    val probes = queries.join(broadcast(cent))
      .withColumn("qscore", round(cosine_sim(col("centv"), col("qe")), 4))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("centroid_id").cast("long").as("pcid"))
    val dt = queries.withColumn("subspace", subspaces)
      .join(broadcast(cw))
      .select(col("qid"), col("subspace"), col("code"), subL2(col("qe")).as("d"))
    val cands = probes
      .join(vecs.withColumn("ccid", col("centroid_id").cast("long")),
        col("pcid") === col("ccid") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
    val adc = cands.join(broadcast(dt), Seq("qid", "subspace", "code"))
      .groupBy("qid", "vec_id")
      .agg(
        sum(when(col("subspace") === 0, col("d"))).as("d0"),
        sum(when(col("subspace") === 1, col("d"))).as("d1"),
        sum(when(col("subspace") === 2, col("d"))).as("d2"),
        sum(when(col("subspace") === 3, col("d"))).as("d3"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
    val shortlist = adc.groupBy("qid")
      .agg(graft.functions.TopKByScore.top_k(shortlistK)(col("vec_id"), -col("adc")).as("top"))
      .select(col("qid"), explode(col("top")).as("sc"))
      .select(col("qid"), col("sc.id").as("vec_id"))
    // exact re-rank: shortlist + query vectors broadcast, ONE map-side
    // reduction of the vectors scan (q247's plan shape)
    val l2 = org.apache.spark.sql.graft.VectorMath.l2sq(col("qe"), col("embedding"))
    val wR = Window.partitionBy("qid").orderBy(asc("dist"), asc("vec_id"))
    vecs.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("dist", l2)
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("dist"), 4).as("l2"))
      .orderBy("qid", "rank")
  }

  /** Top-k search against the standing index: q51's probe discipline
    * (top-`nprobe` centroids per query, leaf top-`topK` by cosine) over
    * the persisted assignment. Queries carry (qid, qe). */
  def probe(spark: SparkSession, queries: DataFrame, indexDir: String,
      nprobe: Int = 2, topK: Int = 5): DataFrame = {
    val cent = spark.read.parquet(centroidsPath(indexDir))
    val assign = liveVectors(spark, indexDir)
      .select(col("vec_id").as("cid"),
        col("centroid_id").cast("long").as("ccid"), col("embedding").as("ce"))
    searchAssigned(queries, cent, assign, nprobe, topK)
  }

  /** q40/q51's assignment: nearest centroid by rounded cosine, argmax as
    * a map-side max_by partial aggregation — one row per vector crosses
    * the shuffle, no |centroids|× window sort. */
  private[graft] def assignCosine(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent))
      .withColumn("ascore", round(cosine_sim(col("centv"), col("embedding")), 4))
      .groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col("embedding")),
        struct(col("ascore"), -col("centroid_id"))).as("b"))
      .select(col("vec_id"), col("b.centroid_id").as("centroid_id"),
        col("b.embedding").as("embedding"))

  /** q51's search over an assigned corpus: probe the top-`nprobe`
    * centroids per query, score only their members, rank by rounded
    * cosine with cid tie-break. `assign` carries (cid, ccid, ce). */
  private[graft] def searchAssigned(q: DataFrame, cent: DataFrame,
      assign: DataFrame, nprobe: Int, topK: Int): DataFrame = {
    val wQ = Window.partitionBy("qid").orderBy(desc("qscore"), asc("centroid_id"))
    val probes = q.join(broadcast(cent))
      .withColumn("qscore", round(cosine_sim(col("centv"), col("qe")), 4))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("centroid_id").as("pcid"))
    val wS = Window.partitionBy("qid").orderBy(desc("score"), asc("cid"))
    probes.join(assign, col("pcid") === col("ccid") && col("qid") =!= col("cid"))
      .withColumn("score", round(cosine_sim(col("qe"), col("ce")), 4))
      .withColumn("rank", row_number().over(wS).cast("long"))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid", "score")
      .orderBy("qid", "rank")
  }

  /** Compact the index's accumulated append files into `outIndexDir`
    * (size-targeted; vectors keep their `centroid_id` partitioning — it
    * is what prunes a probe to the probed centroids' files), physically
    * dropping tombstoned vectors — the output generation is the survivor
    * set with NO tombstone table. The PQ `codebooks/` table — frozen
    * state a probePq reader depends on — is carried over verbatim when
    * present (a generation silently missing it would fail every
    * compressed-domain probe after a publish switch). Rewrites are
    * fingerprint-validated against the live view. */
  def optimize(spark: SparkSession, indexDir: String, outIndexDir: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    require(new File(indexDir).getCanonicalPath !=
        new File(outIndexDir).getCanonicalPath,
      s"optimize: outIndexDir must differ from indexDir ($indexDir)")
    Compaction.compact(spark, centroidsPath(indexDir),
      centroidsPath(outIndexDir), targetFileBytes)
    if (new File(codebooksPath(indexDir)).isDirectory)
      Compaction.compact(spark, codebooksPath(indexDir),
        codebooksPath(outIndexDir), targetFileBytes)
    // the fit ledger is standing state a fitLedger reader depends on —
    // a generation silently missing it would break the retrain trigger
    // after a publish switch (the codebooks precedent)
    if (new File(fitStatsPath(indexDir)).isDirectory)
      Compaction.compact(spark, fitStatsPath(indexDir),
        fitStatsPath(outIndexDir), targetFileBytes)
    val vecs = liveVectors(spark, indexDir)
    val bytesIn = spark.read.parquet(vectorsPath(indexDir)).inputFiles.toSeq
      .map(p => new File(new java.net.URI(p)).length()).sum
    val nOut = math.max(1L, (bytesIn + targetFileBytes - 1) / targetFileBytes).toInt
    vecs.repartition(nOut, col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(vectorsPath(outIndexDir))
    val rewritten = spark.read.parquet(vectorsPath(outIndexDir))
    val Seq(rep) = Reconcile.report(Seq(("vectors", vecs, rewritten)))
    require(rep.matches, s"optimize: vectors content mismatch after rewrite: $rep")
  }
}
