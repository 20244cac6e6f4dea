package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.apps.{CurationIncremental, IndexLifecycle, VirusPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.StructType

/** Benchmark driver: one JVM, one closed-loop client, one pass of a
  * workload through the layers' public entry points, timed from outside.
  *
  *   --workload virus|engine
  *   --input DIR    the generated API-log corpus (virus) or tables (engine)
  *   --out DIR      where the pass writes its outputs and the driver
  *                  writes `result.json`
  *   --local DIR    Spark's scratch directory
  *   --runs N       virus: k-means fits per pass, the best one kept
  *   --trace 0|1    register the span listener and report per-span counters
  */
object Driver {

  private val cores = math.min(Runtime.getRuntime.availableProcessors, 4)

  /** engine_mix reads: (layer, query) of each module's registered query. */
  val Reads: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("dedup", "dd17_canonical_dedup", graft.dedup.Dedup.queries),
    ("streaming", "st24_stream_merge_evolve", graft.streaming.EventStream.queries),
    ("io", "io12_snapshot_diff", graft.io.JsonLines.queries),
    ("ml", "ml16_pr_curve", graft.ml.MlPipeline.queries),
    ("multimodal", "mm14_audio_neardup", graft.multimodal.Multimodal.queries),
    ("operators", "q33_debounce", graft.operators.Relational.queries),
    ("operators", "q13_sessionize", graft.operators.Sessionize.queries),
    ("similarity", "em07_pq_residual", graft.similarity.Similarity.queries),
    ("operators", "ta25_temperature_mix", graft.operators.TextAnalysis.queries),
    ("operators", "vp02_infogain", graft.operators.TextPipeline.queries)
  ).map { case (layer, q, qs) => (layer, q, qs(q)) }

  /** The queries whose oracle SQL checks the write chains' outputs. */
  val IndexOracle = "ss37_index_full_lifecycle"
  val CurationOracle = "cu01_incremental_curation"

  def session(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The spans of a pass. Timed regions are cut into spans at the
    * pipelines' `onStage` callbacks and at the driver's own calls. A
    * span's wall time is read before the listener is drained and the
    * next span starts after the drain, so tracing time falls in no span;
    * it is summed in `overheadS`. */
  final class Pass(spark: SparkSession, listener: Option[SpanListener]) {
    val spans = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    /** Listener drains inside timed regions: what tracing adds to them. */
    var overheadS = 0.0
    /** Wall time of all timed regions. */
    var regionS = 0.0
    private var mark = System.nanoTime()

    /** Times `f` as one region; `f` ends by closing its last span. */
    def timed[T](f: => T): (T, Double) = {
      listener.foreach(_.drain(spark.sparkContext)) // work before is not ours
      val t0 = System.nanoTime()
      mark = t0
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      regionS += s
      (r, s)
    }

    /** Closes the span that has run since the previous boundary. */
    def close(name: String): Unit = {
      val wallS = (System.nanoTime() - mark) / 1e9
      val m = mutable.LinkedHashMap("wall_s" -> wallS)
      listener.foreach { l =>
        val t = System.nanoTime()
        val c = l.drain(spark.sparkContext)
        m ++= Seq("spark.jobs" -> c.jobs.toDouble,
          "spark.tasks" -> c.tasks.toDouble,
          "spark.task_run_s" -> c.taskRunS, "spark.task_cpu_s" -> c.taskCpuS,
          "spark.gc_s" -> c.gcS, "spark.input_mb" -> c.inputMb,
          "spark.shuffle_mb" -> c.shuffleMb, "spark.spill_mb" -> c.spillMb,
          "spark.sched_wait_s" -> c.schedWaitS,
          "spark.block_store_peak_mb" -> c.blockStorePeakMb,
          "spark.cached_mb_end" -> cachedMb(spark))
        overheadS += (System.nanoTime() - t) / 1e9
      }
      spans(name) = m.toMap
      mark = System.nanoTime()
    }

    def callback(prefix: String): (String, Double) => Unit =
      (stage, _) => close(s"$prefix.$stage")
  }

  /** Cached plus checkpointed blocks currently in the block store, MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** One closed-loop pass of the paper's workload: run (best of `runs`
    * k-means fits) → writeArtifacts → sgdReport, the SVMWithSGD AUC sweep
    * of the paper's classification table. */
  def virusPass(spark: SparkSession, corpus: String, out: String, runs: Int,
                p: Pass): Map[String, Double] = {
    val dir = s"$out/pass"
    val ((a, clusterLines), artifactsS) = p.timed {
      val a = VirusPipeline.run(spark, corpus, runs = runs,
        onStage = p.callback("apps.virus"))
      VirusPipeline.writeArtifacts(a, dir)
      val lines = a.clusterReport.select("line").collect().map(_.getString(0))
      p.close("io.artifacts")
      (a, lines)
    }
    val (sgd, reportS) = p.timed {
      val samples = VirusPipeline.assemble(a.vectors, a.top.count().toInt)
      val r = VirusPipeline.sgdReport(spark, samples).collect()
      p.close("ml.sgd")
      r
    }
    val counts = clusterLines.map(_.split(" ")(3).toLong)
    val report =
      s"""{"cluster_counts": [${counts.mkString(", ")}],
         | "sgd": [${sgd.map(_.getAs[Double]("auc")).mkString(", ")}]}
         |""".stripMargin
    Files.write(Paths.get(out, "report.json"), report.getBytes(StandardCharsets.UTF_8))
    def wall(s: String) = p.spans(s)("wall_s")
    Map("artifacts_s" -> artifactsS, "report_s" -> reportS,
      "read_s" -> wall("apps.virus.s1_features"), "write_s" -> wall("io.artifacts"),
      "run_s" -> (artifactsS + reportS))
  }

  /** Saves collected rows as parquet for the oracle check; outside every
    * timed region. */
  private def save(spark: SparkSession, rows: Array[Row], schema: StructType,
                   dir: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(dir)

  /** One closed-loop pass of the engine mix: the ten reads, each
    * collected, then the two write chains on fresh roots, each read back
    * through its published pointer. */
  def enginePass(spark: SparkSession, tables: String, out: String,
                 p: Pass): Map[String, Double] = {
    var readS = 0.0
    for ((layer, name, q) <- Reads) {
      val ((schema, rows), s) = p.timed {
        val df = q(spark, tables)
        val rows = df.collect()
        p.close(s"$layer.$name")
        (df.schema, rows)
      }
      readS += s
      save(spark, rows, schema, s"$out/check/$name")
    }

    val maxVec = graft.Tables.embeddings(spark, tables)
      .agg(max("vec_id")).head().getLong(0)
    val vecCutoff = IndexLifecycle.cutoffOf(spark, tables)
    val ((idxSchema, idxRows), indexS) = p.timed {
      val served = IndexLifecycle.runFull(spark, tables, s"$out/index",
        onStage = p.callback("apps.index"))
      val df = served.select(col("vec_id"), col("cell"), col("m"), col("code"),
        (col("vec_id") >= vecCutoff).as("is_delta"),
        (col("vec_id") > maxVec).as("is_wave"))
      val rows = df.collect()
      p.close("apps.index.s10_serve")
      (df.schema, rows)
    }
    save(spark, idxRows, idxSchema, s"$out/check/$IndexOracle")

    // base/delta split of the curation chain: the top decile by id is
    // the delta, as in its registered query cu01
    val docs = graft.Tables.documents(spark, tables)
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0)
    val docCutoff = (maxDoc + 1L) * 9L / 10L
    val root = s"$out/curation"
    val ((curSchema, curRows), curationS) = p.timed {
      val stage = p.callback("apps.curation")
      CurationIncremental.curateBase(spark, docs.filter(col("doc_id") < docCutoff),
        root, onStage = stage)
      CurationIncremental.applyDelta(spark, root,
        docs.filter(col("doc_id") >= docCutoff), onStage = stage)
      val snapshot = graft.io.Commit.readMarker(spark, s"$root/_SNAPSHOT")
      val df = spark.read.parquet(s"$root/$snapshot")
        .withColumn("is_delta", col("doc_id") >= docCutoff)
      val rows = df.collect()
      p.close("apps.curation.s12_serve")
      (df.schema, rows)
    }
    save(spark, curRows, curSchema, s"$out/check/$CurationOracle")
    Map("read_s" -> readS, "write_s" -> (indexS + curationS),
      "report_s" -> readS, "artifacts_s" -> (indexS + curationS),
      "run_s" -> (readS + indexS + curationS))
  }

  /** The host-speed meter of graft.Bench (`calib_cpu`) at 1/20 of its
    * row count: xxhash64 over a fixed integer range on all cores. */
  def calibCpu(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 80000000L, 1L, cores)
      .selectExpr("sum(xxhash64(id, id + 7, id * 31) % 1000000)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = opt("out")
    val traced = opt("trace") == "1"
    new File(out).mkdirs()
    // set-up: process start until the session is ready for the pass
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(opt("local"))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val listener = if (traced) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener(_))
    val p = new Pass(spark, listener)
    val pass = try {
      val times = opt("workload") match {
        case "virus" => virusPass(spark, opt("input"), out, opt("runs").toInt, p)
        case "engine" => enginePass(spark, opt("input"), out, p)
      }
      val spans = p.spans.map { case (k, v) => s""""$k": ${obj(v)}""" }
      s""""times": ${obj(times)}, "cached_mb_end": ${num(cachedMb(spark))},
         | "overhead_s": ${num(p.overheadS)},
         | "unaccounted_s": ${num(p.regionS - p.overheadS - p.spans.values.map(_("wall_s")).sum)},
         | "spans": {${spans.mkString(", ")}}""".stripMargin
    } catch { case e: Throwable =>
      e.printStackTrace()
      s""""error": ${str(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")}"""
    }
    val calib = if (traced) calibCpu(spark) else Double.NaN
    val heapMb = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    val oracles = (Reads.map(_._2) :+ IndexOracle :+ CurationOracle)
      .map(q => s"${str(q)}: ${str(SparkEntry.oracleSql(q))}")
    val result =
      s"""{"setup_s": ${num(setupS)},
         | "cores": $cores, "nproc": ${Runtime.getRuntime.availableProcessors},
         | "heap_mb": ${num(heapMb)}, "spark_version": "${spark.version}",
         | "calib_cpu_s": ${num(calib)},
         | "oracle_sql": {${oracles.mkString(",\n")}},
         | $pass}
         |""".stripMargin
    spark.stop()
    Files.write(Paths.get(out, "result.json"), result.getBytes(StandardCharsets.UTF_8))
  }
}
