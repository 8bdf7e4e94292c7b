package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized JOIN view — the fourth member of the
  * standing-state family (DedupIndex: near-dup bands; AnnIndex: vector
  * buckets; AggState: aggregate partials; here: an equi-join kept
  * current under inserts AND deletes on either side). Reference analog:
  * the sync script re-fetches both collections and re-pairs them per run
  * (`sync.py`'s fetch-both-then-match loop); at 100 TB the daily
  * re-join of fact × dimension IS the bottleneck, and the fix is the
  * classic view-maintenance delta rule.
  *
  * Rows are Z-SETS (multiplicity-annotated multisets): every stored row
  * carries `__mult` (+1 insert, −1 retraction). The equi-join is
  * BILINEAR over z-sets — `(L + ΔL) ⋈ R = L ⋈ R + ΔL ⋈ R` — so each
  * delta batch maintains the view by joining ONLY the delta against the
  * other side's current store and appending the result:
  *
  *  - `appendLeft(Δ)` appends `Δ ⋈ R_store` to the view, then `Δ` to the
  *    left store (ingest cost: O(|Δ| + touched store buckets));
  *  - `retractLeft(Δ)` is the same rule with `__mult = −1`: the join
  *    emits NEGATIVE view rows that cancel exactly the pairs the deleted
  *    rows once produced — a retracted dimension row takes all its fact
  *    pairings with it, no tombstone bookkeeping, no rewrite;
  *  - `merged` collapses multiplicities (sum per row, drop ≤0): after any
  *    interleaving of appends/retractions it equals the from-scratch join
  *    of the surviving inputs EXACTLY (spec-proved; the telescoping sum
  *    `Σ ΔL_i ⋈ R_{<i} + L_{≤i} ⋈ ΔR_i = (Σ ΔL) ⋈ (Σ ΔR)` needs only
  *    bilinearity, so it holds for any order and any signs).
  *
  * 100 TB design: both stores are parquet partitioned by
  * `__bucket = pmod(xxhash64(keys), NumBuckets)`. A delta's distinct
  * buckets (≤ NumBuckets values, collected driver-side like PrefixSum's
  * per-partition totals) prune the store read to the partitions that can
  * possibly match — the join is delta × touched-buckets, never delta ×
  * store. Appends are blind writes; nothing is read-modify-written; AQE
  * broadcasts the delta side on its own.
  */
object ViewState {

  /** Default store bucket count. The REAL value is a `build`-time argument
    * persisted in the meta file (r12): bucket-granularity pruning is the
    * store read's only lever, and at 100 TB a store built at 32 buckets
    * reads whole once a delta touches ≥32 key hashes — a deployment sizes
    * it from expected store volume (e.g. store_bytes / 1 GB). Reads take
    * the built value from meta, so stores built at any width stay valid. */
  val NumBuckets = 32

  private def leftPath(stateDir: String): String = s"$stateDir/left_store"
  private def rightPath(stateDir: String): String = s"$stateDir/right_store"
  private def viewPath(stateDir: String): String = s"$stateDir/view"
  private def metaPath(stateDir: String): String = s"$stateDir/keys.txt"

  def exists(stateDir: String): Boolean = new File(viewPath(stateDir)).isDirectory

  private def bucketOf(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong))

  private def withMult(df: DataFrame, keys: Seq[String], mult: Int,
      numBuckets: Int): DataFrame =
    df.withColumn("__mult", lit(mult.toLong))
      .withColumn("__bucket", bucketOf(keys, numBuckets))

  // meta file: line 1 = keys CSV; lines 2-4 = left/right/view schema JSON;
  // line 5 = bucket count (absent on pre-r12 stores -> the old fixed 32,
  // so existing stores stay valid without a rewrite).
  // Persisting schemas makes every read explicit-schema, so an EMPTY slice
  // stays well-defined: a partitioned write of zero rows leaves no data
  // files, and schema inference over such a store would fail where an
  // empty relation is the correct answer.
  private final case class Meta(keys: Seq[String],
      left: org.apache.spark.sql.types.StructType,
      right: org.apache.spark.sql.types.StructType,
      view: org.apache.spark.sql.types.StructType,
      numBuckets: Int)

  private def readMeta(stateDir: String): Meta = {
    val src = scala.io.Source.fromFile(metaPath(stateDir))
    val lines = try src.getLines().toList finally src.close()
    def st(s: String) = org.apache.spark.sql.types.DataType.fromJson(s)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    Meta(lines.head.split(",").toSeq, st(lines(1)), st(lines(2)), st(lines(3)),
      lines.lift(4).map(_.trim.toInt).getOrElse(NumBuckets))
  }

  private def writeMeta(stateDir: String, m: Meta): Unit = {
    new File(stateDir).mkdirs()
    java.nio.file.Files.write(new File(metaPath(stateDir)).toPath,
      (m.keys.mkString(",") + "\n" + m.left.json + "\n" + m.right.json +
        "\n" + m.view.json + "\n" + m.numBuckets).getBytes("UTF-8"))
    ()
  }

  /** Initialize the view over `left ⋈ right` on `keys`. Both inputs must
    * carry the key columns; their non-key columns must not collide (the
    * view holds keys ++ left payload ++ right payload). */
  def build(left: DataFrame, right: DataFrame, keys: Seq[String],
      stateDir: String, numBuckets: Int = NumBuckets): Unit = {
    require(numBuckets > 0, s"build: numBuckets must be positive ($numBuckets)")
    val dup = (left.columns.toSet -- keys).intersect(right.columns.toSet -- keys)
    require(dup.isEmpty, s"build: non-key columns collide across sides: $dup")
    DedupIndex.clearDir(stateDir)
    val l = withMult(left, keys, 1, numBuckets)
    val r = withMult(right, keys, 1, numBuckets)
    val v0 = deltaJoin(l, right.withColumn("__mult", lit(1L)), keys)
    writeMeta(stateDir, Meta(keys, l.schema, r.schema, v0.schema, numBuckets))
    // repartition by bucket before the partitioned write: one file per
    // bucket per batch instead of one per task×bucket (32 tasks × 32
    // buckets would splinter every store into ~1k files per write)
    l.repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket").parquet(leftPath(stateDir))
    r.repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket").parquet(rightPath(stateDir))
    v0.write.mode("overwrite").parquet(viewPath(stateDir))
  }

  /** `delta ⋈ other` with z-set multiplicity product per contributing
    * pair. `delta` carries __mult/__bucket; `other` carries __mult. */
  private def deltaJoin(delta: DataFrame, other: DataFrame,
      keys: Seq[String]): DataFrame = {
    val d = delta.drop("__bucket").withColumnRenamed("__mult", "__ml")
    val o = other.drop("__bucket").withColumnRenamed("__mult", "__mr")
    val payload = (d.columns.toSeq ++ o.columns.toSeq)
      .filterNot(keys.contains).filterNot(Seq("__ml", "__mr").contains)
    d.join(o, keys)
      .select((keys ++ payload).map(col) :+
        (col("__ml") * col("__mr")).as("__mult"): _*)
  }

  /** The data files currently under `dir` (flat layout — the view table
    * is unpartitioned), for the ingest write's before/after diff. */
  private def dataFiles(dir: String): Set[String] = {
    val d = new File(dir)
    if (!d.isDirectory) Set.empty
    else d.listFiles().iterator
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getAbsolutePath).toSet
  }

  private def ingest(spark: SparkSession, delta: DataFrame, stateDir: String,
      mult: Int, deltaIsLeft: Boolean): DataFrame = {
    val meta = readMeta(stateDir)
    // the delta's touched buckets ride the SAME job that pins the delta —
    // an `observe` aggregate (collect_set over ≤ numBuckets longs) filled
    // by the eager checkpoint, not a separate distinct().collect()
    // round-trip. Task retries can only re-add the same bucket ids (the
    // set is a function of the delta's rows), so the observed set is
    // exact.
    val obs = org.apache.spark.sql.Observation()
    val d = withMult(delta, meta.keys, mult, meta.numBuckets)
      .observe(obs, collect_set(col("__bucket")).as("tb"))
      .localCheckpoint(true)
    val touched: Seq[Long] = obs.get.apply("tb").asInstanceOf[scala.collection.Seq[Any]]
      .map(_.asInstanceOf[Long]).toSeq
    // the other side's store read pruned to the delta's own key buckets;
    // explicit schema — an all-empty store (no data files yet) reads as
    // an empty relation instead of failing inference
    def pruned(path: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).parquet(path).filter(col("__bucket").isin(touched: _*))
    val other =
      if (deltaIsLeft) pruned(rightPath(stateDir), meta.right)
      else pruned(leftPath(stateDir), meta.left)
    // view columns stay in build order regardless of which side the
    // delta came from (parquet appends are positional per-file, but the
    // merged read is name-based; keep one canonical order anyway)
    val viewCols = meta.view.fieldNames.toSeq
    val dvPlan =
      (if (deltaIsLeft) deltaJoin(d, other, meta.keys)
       else deltaJoin(other, d, meta.keys))
        .select(viewCols.map(col): _*)
    // the view delta is both written and returned to the caller (the q278
    // summary composition folds it into AggState partials). The append
    // already materializes every delta row, so the write IS the single
    // execution and the returned frame reads back the files that write
    // created (a before/after listing diff; the store is single-writer by
    // the Generations lock contract, so the diff is exactly this batch).
    // Pinning the delta with an eager localCheckpoint instead costs a
    // second job per ingest and leaves a delta-sized block in executor
    // memory.
    val before = dataFiles(viewPath(stateDir))
    dvPlan.write.mode("append").parquet(viewPath(stateDir))
    val fresh = (dataFiles(viewPath(stateDir)) -- before).toSeq.sorted
    val dv =
      if (fresh.isEmpty) // an empty delta writes no data files
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.view)
      else spark.read.schema(meta.view).parquet(fresh: _*)
    val storeSchema = if (deltaIsLeft) meta.left else meta.right
    val storePath = if (deltaIsLeft) leftPath(stateDir) else rightPath(stateDir)
    d.select(storeSchema.fieldNames.toSeq.map(col): _*).repartition(col("__bucket"))
      .write.mode("append").partitionBy("__bucket").parquet(storePath)
    dv
  }

  /** Fold a left-side delta batch into the view: O(|Δ| + touched buckets).
    * Returns the VIEW DELTA (the joined rows just appended, `__mult`
    * included) — the feed for downstream incremental consumers (e.g. an
    * AggState summary maintained over this view without re-joining). */
  def appendLeft(spark: SparkSession, delta: DataFrame, stateDir: String): DataFrame =
    ingest(spark, delta, stateDir, 1, deltaIsLeft = true)

  def appendRight(spark: SparkSession, delta: DataFrame, stateDir: String): DataFrame =
    ingest(spark, delta, stateDir, 1, deltaIsLeft = false)

  /** RETRACT previously-ingested left rows (same contract as
    * AggState.retract: the caller retracts only what it added). The
    * negative delta joins the CURRENT right store, so every pair the
    * retracted rows ever produced — including against right rows that
    * arrived after them — is cancelled exactly. Returns the negative
    * view delta (`__mult` < 0). */
  def retractLeft(spark: SparkSession, deleted: DataFrame, stateDir: String): DataFrame =
    ingest(spark, deleted, stateDir, -1, deltaIsLeft = true)

  def retractRight(spark: SparkSession, deleted: DataFrame, stateDir: String): DataFrame =
    ingest(spark, deleted, stateDir, -1, deltaIsLeft = false)

  /** The current view: multiplicities collapsed (one row per distinct
    * row value with its surviving count as `mult`) — equals the
    * from-scratch `GROUP BY all` join of the surviving inputs. */
  def merged(spark: SparkSession, stateDir: String): DataFrame = {
    val v = spark.read.schema(readMeta(stateDir).view).parquet(viewPath(stateDir))
    val cols = v.columns.filterNot(_ == "__mult").toSeq
    v.groupBy(cols.map(col): _*)
      .agg(sum("__mult").cast("long").as("mult"))
      .filter(col("mult") > 0)
  }

  /** Collapse accumulated delta rows in all three tables (cancelled pairs
    * and retracted store rows drop physically), validated by fingerprint
    * equality of the MERGED view — the only invariant compaction must
    * preserve. The output is a fresh generation for `Generations.publish`. */
  def optimize(spark: SparkSession, stateDir: String, outStateDir: String): Unit = {
    require(new File(stateDir).getCanonicalPath !=
        new File(outStateDir).getCanonicalPath,
      s"optimize: outStateDir must differ from stateDir ($stateDir)")
    DedupIndex.clearDir(outStateDir)
    val meta = readMeta(stateDir)
    val keys = meta.keys
    writeMeta(outStateDir, meta)
    def collapse(path: String => String,
        schema: org.apache.spark.sql.types.StructType, bucketed: Boolean): Unit = {
      val t = spark.read.schema(schema).parquet(path(stateDir))
      val cols = t.columns.filterNot(Seq("__mult", "__bucket").contains).toSeq
      val folded = t.groupBy(cols.map(col): _*)
        .agg(sum("__mult").as("__mult"))
        .filter(col("__mult") =!= 0)
      if (bucketed)
        folded.withColumn("__bucket", bucketOf(keys, meta.numBuckets))
          .repartition(col("__bucket"))
          .write.mode("overwrite").partitionBy("__bucket").parquet(path(outStateDir))
      else folded.write.mode("overwrite").parquet(path(outStateDir))
    }
    collapse(leftPath, meta.left, bucketed = true)
    collapse(rightPath, meta.right, bucketed = true)
    collapse(viewPath, meta.view, bucketed = false)
    val Seq(rep) = Reconcile.report(Seq(("view",
      merged(spark, stateDir), merged(spark, outStateDir))))
    require(rep.matches, s"optimize: merged view changed after rewrite: $rep")
  }
}
