package graft.io

import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader for the reference's raw corpus layout
  * (`api_logs/{clean,virus}_LOGS_CONVERTED/` text files, one API call
  * per line, lines like `LoadLibrary -` — FIXTURES.md §1).
  *
  * ONE whole-corpus `textFile` scan with `input_file_name()` instead
  * of the reference's per-file RDD array + S3 SDK listing
  * (`FeatureSelectionCloud.scala:204-246,290,323-343`) — the per-file
  * identity becomes a `sample_id` column, which removes the O(#files)
  * job storm (SURVEY.md §4.2.1). Normalization strips `[ +-]` like the
  * reference (P1, `:333-337`) — this also erases the trailing ` -` of
  * every line; lines that normalize to empty are dropped (P2, `:337`).
  *
  * At scale: many small files are the classic pathology here. Spark
  * gets the class directories as its root paths, not the files, and
  * the `*.txt` filter as the `pathGlobFilter` option: with fewer roots
  * than `spark.sql.sources.parallelPartitionDiscovery.threshold` (32),
  * listing runs on the driver and starts no Spark job (a per-file glob
  * hands Spark one root per file, and above 32 of them it lists them
  * in a job of one task per file). Only direct-child `.txt` files are
  * read, like the per-file glob. A file with no line (zero bytes) is
  * no sample: the frame has no row for it, although the reference's
  * listing would count it; the FIXTURES.md §1 corpus has none.
  */
object ApiLogReader {

  /** One corpus text scan, UNFILTERED: every line becomes a row even
    * when its token normalizes to empty. [[callsOf]] and [[totalsOf]]
    * derive both stage-1 inputs from this single frame or from its
    * per-sample dedup (`FeatureSelection.distinctCalls`), which keeps
    * the empty token too. The pipeline caches that dedup, so it pays
    * ONE pass over the raw corpus and caches a digest-sized frame, not
    * the raw text. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("pathGlobFilter", "*.txt")
      .textFile(s"$dir/*_LOGS_CONVERTED").toDF("line")
      .select(
        // sample_id keeps the class directory: the same basename exists
        // in BOTH class dirs, so basename alone would merge two samples.
        // input_file_name() is URI-encoded → decode for readable ids.
        url_decode(regexp_extract(input_file_name(), "([^/]+/[^/]+)$", 1))
          .as("sample_id"),
        when(input_file_name().contains("virus_LOGS_CONVERTED"), "virus")
          .otherwise("clean").as("cls"),
        normalizeToken(col("line")).as("token"))

  /** The calls view of [[readRaw]]: lines that normalize to empty are
    * dropped (P2). */
  def callsOf(raw: DataFrame): DataFrame =
    raw.filter(length(col("token")) > 0)

  /** calls(sample_id, cls, token); cls = parent-directory class
    * ("virus"/"clean"). */
  def read(spark: SparkSession, dir: String): DataFrame =
    callsOf(readRaw(spark, dir))

  /** Single-row totals (p = #positive-class files, t = #all files) —
    * counts FILES (including token-less ones), matching the
    * reference's listing-based counts (A3,
    * `FeatureSelectionCloud.scala:122-123`). Spark-native: distinct
    * file names from the same scan, before empty-line filtering. */
  def totals(spark: SparkSession, dir: String, posCls: String): DataFrame =
    totalsOf(readRaw(spark, dir), posCls)

  /** [[totals]] over an already-read [[readRaw]] frame or its
    * per-sample dedup (same sample_ids, fewer rows) — `sample_id`
    * is `classdir/basename`, a bijection of the file path within the
    * corpus, so distinct sample_ids count exactly the files the old
    * per-path distinct counted (and, like it, sees token-less files
    * because the frame is pre-filter). Assumes corpus filenames carry
    * no percent-encoded characters (they don't — FIXTURES.md §1):
    * sample_id is url_decode(path), so two distinct encoded paths
    * decoding to one string would merge; under that assumption the
    * decode is injective and the count equals the raw-path count. */
  def totalsOf(raw: DataFrame, posCls: String): DataFrame =
    raw.select("sample_id", "cls").distinct().agg(
      sum(when(col("cls") === posCls, 1L).otherwise(0L)).as("p"),
      count(lit(1)).as("t"))
}
