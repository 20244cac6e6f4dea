package graft

import java.nio.file.Files

import graft.io.ApiLogReader
import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus reader above Spark's 32-root listing threshold. The class
  * directories are the reader's roots, so listing stays on the driver;
  * its samples and totals must be those of the per-file glob it
  * replaced (every `.txt` file of each `*_LOGS_CONVERTED` directory),
  * which hands Spark one root per file. */
class ApiLogReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val logsPerClass = Map("clean" -> 20, "virus" -> 24)

  /** 48 direct-child `.txt` files: the logs under the reference's
    * names, a token-less file and a zero-byte file per class. Beside
    * them a `notes.md` and a nested `.txt` file, which are no samples. */
  private lazy val dir: String = {
    val root = Files.createTempDirectory("graft_reader_")
    def write(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    for ((cls, n) <- logsPerClass) {
      val d = s"${cls}_LOGS_CONVERTED"
      for (i <- 1 to n)
        write(s"$d/LOG_API ($i)converted.txt", s" -\nLoadLibrary -\nApi$i -\n")
      write(s"$d/token-less.txt", " -\n")
      write(s"$d/zero-bytes.txt", "")
      write(s"$d/notes.md", "NotACall -\n")
      write(s"$d/nested/deep.txt", "Deep -\n")
    }
    root.toString
  }

  /** The reader's former scan: one root path per file. */
  private def perFileGlob: DataFrame =
    spark.read.textFile(s"$dir/*_LOGS_CONVERTED/*.txt").select(
      url_decode(regexp_extract(input_file_name(), "([^/]+/[^/]+)$", 1))
        .as("sample_id"),
      when(input_file_name().contains("virus_LOGS_CONVERTED"), "virus")
        .otherwise("clean").as("cls"))

  private def sampleIds(df: DataFrame): Set[String] =
    df.select("sample_id").distinct().collect().map(_.getString(0)).toSet

  private def totals(df: DataFrame): (Long, Long) = {
    val r = ApiLogReader.totalsOf(df, "virus").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("samples and totals match the per-file glob's") {
    val raw = ApiLogReader.readRaw(spark, dir)
    // only direct-child .txt files with at least one line are samples
    val expected = logsPerClass.toSeq.flatMap { case (cls, n) =>
      (1 to n).map(i => s"${cls}_LOGS_CONVERTED/LOG_API ($i)converted.txt") :+
        s"${cls}_LOGS_CONVERTED/token-less.txt"
    }.toSet
    assert(sampleIds(raw) == expected)
    assert(sampleIds(perFileGlob) == expected)
    assert(totals(raw) == ((25L, 46L)))
    assert(totals(perFileGlob) == totals(raw))
    // the token-less file is counted by the totals but has no call
    assert(ApiLogReader.callsOf(raw).count() == 2L * logsPerClass.values.sum)
  }

  test("building the reader lists on the driver and starts no Spark job") {
    val sc = spark.sparkContext
    def jobsWhile(group: String)(build: => DataFrame): Int = {
      sc.setJobGroup(group, "corpus listing")
      try build finally sc.clearJobGroup()
      TestBus.drain(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    // control: the per-file glob's 48 roots take a listing job
    assert(jobsWhile("graft-listing-per-file")(perFileGlob) > 0)
    assert(jobsWhile("graft-listing-reader")(
      ApiLogReader.readRaw(spark, dir)) == 0)
  }
}
