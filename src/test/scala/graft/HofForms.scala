package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.queries.{Dedup, TrainPrep}

/** Higher-order-function reference forms of operators that production
  * runs as native TextHashes expressions. These are the formulations that
  * first passed the DuckDB oracle; TextHashesSpec pins the native forms to
  * them bit-for-bit. */
object HofForms {

  /** [[Dedup.minhashBase]] as an interpreted fold: shingle hashes from
    * `Dedup.hashedDocsOf`, sorted distinct into `hs`, then all K minima in
    * one `aggregate` whose accumulator zips with the (a, b) constants.
    * Persisted like the native form; callers unpersist. */
  def minhashBase(docs: DataFrame): DataFrame = {
    val consts = array(Dedup.AB.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    val sigArr = aggregate(
      col("hs"),
      array_repeat(lit(Dedup.P), Dedup.K),
      (acc, x) => zip_with(acc, consts, (m, c) =>
        least(m, (c.getField("a") * x + c.getField("b")) % lit(Dedup.P))))
    Dedup.hashedDocsOf(docs)
      .filter(size(col("w")) > 0) // empty shingle sets would fold to NULL sigs
      .select(col("doc_id"), array_sort(array_distinct(col("h"))).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("sz"), sigArr.as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[TrainPrep.hashedNgrams8]] as slice+zip_with 8-gram strings, each
    * md5-hashed, first occurrence kept by `array_distinct`. */
  def hashedNgrams8(text: Column): Column = {
    def ngrams8(w: Column): Column =
      when(size(w) < 8, array().cast("array<string>"))
        .otherwise((2 to 8).foldLeft(slice(w, lit(1), size(w) - 7)) { (acc, k) =>
          zip_with(acc, slice(w, lit(k), size(w) - 7), (a, b) => concat(a, lit(" "), b))
        })
    array_distinct(transform(ngrams8(TrainPrep.rawToks(text)), g => Dedup.tokHash(g)))
  }
}
