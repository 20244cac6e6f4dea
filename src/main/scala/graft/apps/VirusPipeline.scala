package graft.apps

import graft.export.Hierarchy
import graft.io.{ApiLogReader, Codecs}
import graft.operators.FeatureSelection
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three programs chained as ONE DataFrame pipeline
  * with optional file checkpoints (SURVEY §3.4): feature selection →
  * vectorization → k-means clustering → hierarchy export →
  * classification reports. A user of
  * `FeatureSelectionCloud`/`Clustering`/`driver` runs this instead.
  *
  * Key rewrites vs the reference (SURVEY §4.2):
  *   - no per-sample jobs: one corpus scan, one broadcast semi-join;
  *   - cluster assignments join on `sample_id`, never positional `zip`
  *     (J3, `KmeansVirus.scala:123-125`);
  *   - no toString/regex reparse of sparse vectors (P7): the 1-based
  *     `feature_index` column flows end-to-end and is shifted exactly
  *     once at the ML boundary (SURVEY §7.4.4);
  *   - JSON/LIBSVM/report strings are built distributed (P9/K2/K6).
  */
object VirusPipeline {

  final case class Artifacts(top: DataFrame, vectors: DataFrame,
      assignments: DataFrame, clusterReport: DataFrame, json: DataFrame)

  /** Sparse binary vector assembly (§2.9): 1-based ranks → 0-based
    * MLlib indices, presence-only values. */
  private val toSparse =
    udf((n: Int, idxs: Seq[Int]) =>
      Vectors.sparse(n, idxs.sorted.map(_ - 1).toArray,
        Array.fill(idxs.size)(1.0)))

  /** Long-form vectors → (sample_id, label, indices, features) with an
    * ML SparseVector column. */
  def assemble(vec: DataFrame, nFeatures: Int): DataFrame =
    vec.groupBy("sample_id", "label")
      .agg(sort_array(collect_list(col("feature_index"))).as("indices"))
      .withColumn("features", toSparse(lit(nFeatures), col("indices")))

  /** @param onStage stage-attribution callback (round-6 verdict #1):
    *   called at each stage boundary with (name, seconds). The
    *   boundaries force the stage's cached frame, which the next
    *   stage would materialize anyway — same total work, attributable
    *   wall-clock. Bench feeds these into `pipeline_virus_s*` rows so
    *   a per-round series can name the stage that diverges instead of
    *   one opaque e2e number.
    * @return artifacts whose `top`, `vectors` and `assignments` frames
    *   are cached (`writeArtifacts` and the reports read them); the
    *   caller owns them and unpersists them when done. */
  def run(spark: SparkSession, apiLogsDir: String, topN: Int = 2000,
          k: Int = 10, seed: Long = 42L, runs: Int = 10,
          onStage: (String, Double) => Unit = (_, _) => ()): Artifacts = {
    var mark = System.nanoTime()
    def stageDone(name: String): Unit = {
      val now = System.nanoTime(); onStage(name, (now - mark) / 1e9)
      mark = now
    }
    // stage 1 — feature selection (FeatureSelectionCloud). The
    // per-sample dedup runs ONCE over ONE corpus scan and is shared by
    // the totals, ranking and vectorization (vp04/vp05's proven
    // sharing). It keeps the empty token, so `totalsOf` still counts
    // token-less files, and `callsOf` drops it afterwards — the same
    // rows as filtering before the dedup. The raw corpus text is NOT
    // cached (round-15 verdict: caching corpus-sized raw text is the
    // failure mode at 100 TB); `seen` holds at most one row per
    // (sample, distinct API), so it is digest-sized.
    val seen = FeatureSelection.distinctCalls(
      ApiLogReader.readRaw(spark, apiLogsDir)).cache()
    val totals = ApiLogReader.totalsOf(seen, "virus")
    val distinct = ApiLogReader.callsOf(seen)
    val ranked = FeatureSelection.infoGainRankedOfDistinct(
      distinct, "virus", totals)
    val top = FeatureSelection.topFeatures(ranked, topN).cache()
    val vec = FeatureSelection.vectorizeOfDistinct(distinct, top, "virus")
      .cache()
    val nFeatures = top.count().toInt
    vec.count() // boundary: stage-2 reads the populated cache
    // top/vec are materialized; nothing downstream re-reads the
    // dedup'd calls — release it before clustering
    seen.unpersist(false)
    stageDone("s1_features")

    // stage 2 — clustering (KmeansVirus): sparse vectors per sample
    val samples = assemble(vec, nFeatures).cache()
    // materialize BEFORE the concurrent fits (kmeansCostSweep's
    // discipline): otherwise all `runs` threads race to fill the same
    // cache partitions and serialize on the block locks
    samples.count()
    // L1 setRuns parity: the reference trains with `setRuns(10)`
    // (`KmeansVirus.scala:183-186`) — best-of-`runs` seeded fits
    // keeping min WSSSE is the Spark 2+ equivalent
    val model = graft.ml.MlPipeline.bestOfKMeans(samples, k, runs,
      baseSeed = seed)
    // P9: api leaf {name, size} with size = totalFeatures − 0-based rank
    // (`KmeansVirus.scala:106-111`)
    val apiStructs = vec
      .join(broadcast(top.select("feature_index", "token")), Seq("feature_index"))
      .groupBy("sample_id")
      .agg(sort_array(collect_list(struct(col("feature_index"),
        col("token")))).as("fs"))
      .select(col("sample_id"), expr(
        s"transform(fs, f -> struct(f.token AS name, " +
        s"$nFeatures - (f.feature_index - 1) AS size))").as("apis"))
    val assignments = model.transform(samples)
      .select(col("sample_id"), col("label"),
        col("prediction").cast("int").as("cluster"))
      .join(apiStructs, Seq("sample_id")) // J3 done right: key join, not zip
      .select("cluster", "label", "sample_id", "apis")
      .cache()
    assignments.count() // boundary: report/export read the cache
    // the fits and assignments are done; nothing reads samples again
    samples.unpersist(false)
    stageDone("s2_cluster")

    // A4+O4+K6: "Cluster N contains C L files" report rows
    val clusterReport = assignments
      .groupBy(col("cluster"),
        when(col("label") === 0.0, "Clean").otherwise("Virus").as("label_name"))
      .agg(count(lit(1)).as("n"))
      .select(format_string("Cluster %d contains %d %s files",
        col("cluster"), col("n"), col("label_name")).as("line"),
        col("cluster"), col("label_name"))
      .orderBy("cluster", "label_name")

    Artifacts(top, vec, assignments, clusterReport,
      Hierarchy.d3Json(assignments))
  }

  /** A6/M3: global weighted-average label entropy of the clustering
    * (`SVMDT.scala:264-284`), natural log. */
  def entropyScore(assignments: DataFrame): Double = {
    val counts = assignments.groupBy("cluster", "label")
      .agg(count(lit(1)).as("n"))
    graft.functions.Funcs.clusterEntropy(counts)
      .agg(sum(col("n_total") * col("entropy_raw")) / sum(col("n_total")))
      .collect()(0).getDouble(0)
  }

  /** Stage 3 — `driver` (SVMDT): DT impurity×depth and LinearSVC reg
    * sweeps on the stage-1 vectors, reported in the reference's
    * console format `"<param>, AUC = NN.NN%"`
    * (`SVMDT.scala:160-163,195-197`). 50/25/25 seeded split (U3). */
  def classificationReport(spark: SparkSession, samples: DataFrame,
                           seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC}
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    val Array(train, cv, test) = samples.select("label", "features")
      .randomSplit(Array(0.5, 0.25, 0.25), seed)
    train.cache(); cv.cache(); test.cache()
    val evalr = new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC")
    val dt = for (imp <- Seq("entropy", "gini");
                  depth <- Seq(1, 2, 3, 4, 5, 10, 20)) yield {
      val m = new DecisionTreeClassifier()
        .setImpurity(imp).setMaxDepth(depth).setSeed(seed).fit(train)
      val auc = evalr.evaluate(m.transform(cv))
      (s"dt-$imp", depth.toDouble, auc,
        f"$imp depth $depth, AUC = ${auc * 100}%2.2f%%")
    }
    val svc = Seq(0.001, 0.01, 0.1, 1.0, 10.0).map { r =>
      val m = new LinearSVC().setRegParam(r).setMaxIter(10).fit(train)
      val auc = evalr.evaluate(m.transform(test))
      ("svc", r, auc, f"svc reg $r, AUC = ${auc * 100}%2.2f%%")
    }
    import spark.implicits._
    (dt ++ svc).toDF("model", "param", "auc", "line")
  }

  /** The reference's EXACT SVM optimizer on the virus corpus —
    * `SVMWithSGD` with the `trainWithParams` settings
    * (`SVMDT.scala:204-214`: 10 iterations, step 1.0,
    * SquaredL2Updater, regParam sweep), for band parity with the
    * published CV-SVM table (readme.md:108-118): the over-regularized
    * reg=10 point collapses toward coin-flip there BECAUSE of this
    * optimizer — modern LinearSVC/OWLQN does not reproduce that
    * artifact (it converges to a usable margin even at reg=10), which
    * is exactly why both routes ship (SURVEY §2.8; ml04 vs ml10).
    * VirusPipelineSpec asserts the published bands on this report. */
  def sgdReport(spark: SparkSession, samples: DataFrame,
                seed: Long = 42L): DataFrame = {
    import org.apache.spark.mllib.classification.SVMWithSGD
    import org.apache.spark.mllib.evaluation.BinaryClassificationMetrics
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.optimization.SquaredL2Updater
    import org.apache.spark.mllib.regression.LabeledPoint
    val Array(train0, _, test0) = samples.select("label", "features")
      .randomSplit(Array(0.5, 0.25, 0.25), seed)
    def toRdd(df: DataFrame) = df.rdd.map { r =>
      LabeledPoint(r.getDouble(0), OldVectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](1)))
    }
    val train = toRdd(train0).coalesce(8).cache()
    val test = toRdd(test0).coalesce(8).cache()
    train.count(); test.count()
    val rows = Seq(0.001, 0.01, 0.1, 1.0, 10.0).map { reg =>
      val svm = new SVMWithSGD()
      svm.optimizer.setNumIterations(10).setStepSize(1.0)
        .setRegParam(reg).setUpdater(new SquaredL2Updater)
      val m = svm.run(train)
      m.clearThreshold()
      val auc = new BinaryClassificationMetrics(
        test.map(p => (m.predict(p.features), p.label))).areaUnderROC()
      (reg, auc)
    }
    train.unpersist(false); test.unpersist(false)
    import spark.implicits._
    rows.toDF("reg_param", "auc").orderBy("reg_param")
  }

  /** Writes the reference's four file artifacts. */
  def writeArtifacts(a: Artifacts, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    Codecs.writeTopFeatures(a.top, s"$outDir/topFeatures.txt")
    Codecs.writeLibSvm(FeatureSelection.libsvmRows(a.vectors),
      s"$outDir/LIBSVMOutput.txt")
    Codecs.writeOutputTxt(a.assignments, s"$outDir/output.txt")
    Codecs.writeJson(a.json, s"$outDir/data.json")
  }

  /** CLI: runMain graft.apps.VirusPipeline <apiLogsDir> <outDir> [k] */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-virus-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val a = run(spark, inDir, k = k)
    writeArtifacts(a, outDir)
    a.clusterReport.select("line").collect().foreach(r => println(r.getString(0)))
    println(f"weighted label entropy = ${entropyScore(a.assignments)}%.6f")
    spark.stop()
  }
}
