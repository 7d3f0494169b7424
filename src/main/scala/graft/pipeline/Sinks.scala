package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** K1 + M6 + SH1: the reference's output contract — `path TAB class,prob`
  * lines, globally sorted by path, probability formatted `%.4f`
  * (`/root/reference/java/PredictDriverCluster.java:39`,
  * `python/predict_batch_threaded_local.py:160`).
  */
object Sinks {

  /** The formatted KV frame: `k = path`, `v = label,%.4f(prob)`.
    * `format_number`-free: `format_string("%.4f", …)` is codegen'd and
    * matches the Python `f"{prob:.4f}"` output for all non-tie doubles. */
  def kvFrame(preds: Dataset[Prediction]): DataFrame =
    preds.toDF()
      .select(col("path").as("k"),
        concat_ws(",", col("label"),
          format_string("%.4f", col("prob"))).as("v"))

  /** Manifest keys ready for scoring in global key order: one range
    * partition per core, each sorted. The output key of a classify job
    * is the trimmed manifest line, known before any image is read, so
    * the range shuffle and its sampling job move paths, not scored rows
    * (the cheapest records that carry the key), and scoring runs once,
    * in parallel. The count is explicit: AQE never coalesces a shuffle
    * whose partition count was asked for, and left to itself it folds
    * this few-KB shuffle back into one task. `singleFile` asks for one
    * range instead: the scoring stage then runs as one task, still
    * scoring each line once, and writes one part file. */
  def keyRanges(lines: Dataset[String],
      singleFile: Boolean = false): Dataset[String] = {
    val n =
      if (singleFile) 1 else lines.sparkSession.sparkContext.defaultParallelism
    lines.repartitionByRange(n, col("value")).sortWithinPartitions(col("value"))
  }

  /** Write the sorted TSV of arbitrary predictions. `orderBy`
    * range-partitions the sort (the parallel analog of the reference's
    * single reducer); its sampling job re-runs everything upstream of
    * the sort, so a job whose keys exist before scoring orders them with
    * [[keyRanges]] and writes through [[writeKeyOrderedTsv]] instead.
    * `singleFile` additionally coalesces to one part file for byte-compat
    * with `part-r-00000` — correct for small outputs, deliberately NOT
    * the default at scale. */
  def writeTsv(preds: Dataset[Prediction], out: String,
      singleFile: Boolean = false): Unit = {
    val sorted = kvFrame(preds).orderBy(col("k"))
    writeKv(if (singleFile) sorted.coalesce(1) else sorted, out)
  }

  /** Write predictions that are already in global key order — scored,
    * order-preserving, from [[keyRanges]] — with no second sort: one
    * part file per range, in key order by file name. */
  def writeKeyOrderedTsv(preds: Dataset[Prediction], out: String): Unit =
    writeKv(kvFrame(preds), out)

  private def writeKv(kv: DataFrame, out: String): Unit =
    kv.select(concat_ws("\t", col("k"), col("v")).as("value"))
      .write.mode("overwrite").text(out)

  /** JSONL writer — the interchange twin of [[Sources.jsonl]]. One JSON
    * object per line, written in parallel (one file per partition);
    * `maxRecordsPerFile` bounds file size so downstream loaders see
    * uniform shards instead of one giant file per partition. */
  def writeJsonl(df: DataFrame, out: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode("overwrite")
    val w2 = if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    w2.json(out)
  }

  /** Hive-style partitioned parquet writer — the layout a curated
    * training-data table actually ships in. Readers filtering on a
    * partition column scan only the matching directories (partition
    * pruning happens at planning time, before any file is opened), which
    * at 100 TB is the difference between reading one language's slice
    * and reading the corpus. Keep partition columns low-cardinality
    * (lang, source, date — NOT doc_id): each distinct value is a
    * directory, and millions of tiny files kill the driver's listing. */
  def writePartitioned(df: DataFrame, out: String,
      partitionCols: Seq[String], mode: String = "overwrite"): Unit =
    df.write.partitionBy(partitionCols: _*).mode(mode).parquet(out)
}
