package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.drift._
import graft.pipeline.{CorpusPipeline, DataSplit, Dedup, LmScore, TextAnalysis}

/** What the checks found about one op, outside its timed region. `slot`
  * names the earlier op whose digest this one must repeat; `planted` is
  * the workload's planted-outcome score, when the op carried one. */
final case class Checked(slot: Int, digest: String, violations: Seq[String],
    planted: Option[Double])

/** One benchmark workload: seeded inputs plus the user operation. */
trait Workload {
  type Result
  /** Writes the seeded inputs under `dir` and commits them as a user would. */
  def prepare(dir: String): Unit
  /** One user operation; traced when a tracer is given. */
  def run(op: Int, tracer: Option[Tracer]): Result
  /** Digest and planted invariants of `op`'s result; frees what it left. */
  def check(op: Int, result: Result): Checked
  /** Name of the planted-outcome per-layer metric. */
  def plantedMetric: String
}

object Workloads {
  val Names: Seq[String] = Seq("drift_pair", "drift_history", "corpus_curation")

  /** Input sizes at scale factor `sf`, as in TPC-H: lineitem has 6M × sf
    * rows, a month of it 73k × sf, and the documents table 50k × sf docs. */
  def apply(name: String, spark: SparkSession, sf: Double, seed: Long): Workload = name match {
    case "drift_pair" => new DriftPair(spark, math.max(1000L, (6e6 * sf).toLong), seed)
    case "drift_history" => new DriftHistory(spark, math.max(500L, (7.3e4 * sf).toLong), seed)
    case "corpus_curation" => new CorpusCuration(spark, math.max(100, (5e4 * sf).toInt), seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  def writeFile(path: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
}

/** Shared by the two drift workloads: the config a user writes, the
  * report's digest and the planted-drift check. */
abstract class DriftWorkload(spark: SparkSession) extends Workload {
  type Result = DriftReport
  def plantedMetric = "planted_drift_flagged"

  protected var dir = ""
  protected def configPath = s"$dir/drift_config.json"

  protected def writeConfig(ref: Long, curr: Long): Unit = Workloads.writeFile(configPath,
    s"""{"table_path": "$dir/lineitem", "table_format": "versioned_parquet",
       | "reference_version": $ref, "current_version": $curr,
       | "output_table": "$dir/drift_results", "profile": "summary", "sample_size": 0,
       | "include_columns": [${Inputs.PlantedColumns.map(c => s""""$c"""").mkString(", ")}]}
       |""".stripMargin)

  protected def detect(tracer: Option[Tracer]): DriftReport = tracer match {
    case None => new DriftDetector(spark).detectDrift(configPath)
    case Some(t) => TracedDrift.detect(spark, configPath, t)
  }

  /** Flagged columns, scores to 6 decimals and the severity line. */
  protected def digest(r: DriftReport): String = {
    def r6(d: Double) =
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    Workloads.md5((r.numeric.map(c => s"num ${c.column} ${r6(c.driftScore)} ${c.driftDetected}") ++
      r.categorical.map(c => s"cat ${c.column} ${r6(c.driftScore)} ${c.driftDetected}") :+
      r.assessment).mkString("\n"))
  }

  protected def checked(slot: Int, r: DriftReport, planted: Boolean): Checked = {
    val flagged = (r.numeric.filter(_.driftDetected).map(_.column) ++
      r.categorical.filter(_.driftDetected).map(_.column)).toSet
    val missed = if (planted) Inputs.PlantedColumns.filterNot(flagged) else Nil
    Checked(slot, digest(r),
      missed.map(c => s"planted drift in $c not flagged") ++ r.errors.map(e => s"analyzer error: $e"),
      if (planted) Some((Inputs.PlantedColumns.size - missed.size).toDouble) else None)
  }
}

/** drift_pair: one version pair, compared again by every op. */
final class DriftPair(spark: SparkSession, rows: Long, seed: Long) extends DriftWorkload(spark) {
  def prepare(d: String): Unit = {
    dir = d
    val table = new VersionedParquetTable(s"$dir/lineitem")
    val (v0, v1) = Inputs.versionPair(spark, rows, seed, spark.sparkContext.defaultParallelism)
    table.commit(v0)
    table.commit(v1)
    writeConfig(0, 1)
  }
  def run(op: Int, tracer: Option[Tracer]): DriftReport = detect(tracer)
  def check(op: Int, r: DriftReport): Checked = checked(0, r, planted = true)
}

/** drift_history: the nightly loop. Each op commits the next month and
  * compares it with the previous one. The months cycle through a seeded
  * pool of `Pool`, so op i repeats the digest of op i - Pool. */
final class DriftHistory(spark: SparkSession, rowsPerMonth: Long, seed: Long)
    extends DriftWorkload(spark) {
  private val Pool = 2
  private val rnd = new java.util.SplittableRandom(seed)
  private val firstMonth = rnd.nextInt(72)
  // one month of the pool carries the planted drift, so every op compares a
  // drifted month with a clean one; the check applies when the drifted one
  // is the latest
  private val drifted: Set[Int] = Set(rnd.nextInt(Pool))
  private def pool(j: Int) = s"$dir/inputs/month_$j"

  def prepare(d: String): Unit = {
    dir = d
    for (j <- 0 until Pool)
      Inputs.month(spark, rowsPerMonth, seed, firstMonth + j, drifted(j),
        spark.sparkContext.defaultParallelism).write.parquet(pool(j))
    new VersionedParquetTable(s"$dir/lineitem").commit(spark.read.parquet(pool(Pool - 1)))
  }

  def run(op: Int, tracer: Option[Tracer]): DriftReport = {
    val table = new VersionedParquetTable(s"$dir/lineitem")
    val month = spark.read.parquet(pool(op % Pool))
    val v = tracer.fold(table.commit(month))(
      _.span("snapshot_commit_s", "VersionedParquetTable.commit")(table.commit(month)))
    writeConfig(v - 1, v)
    detect(tracer)
  }

  def check(op: Int, r: DriftReport): Checked = checked(op % Pool, r, drifted(op % Pool))
}

/** corpus_curation: the curation sweep over a documents table with planted
  * near-duplicates, into a fresh work directory per op. */
final class CorpusCuration(spark: SparkSession, docs: Int, seed: Long) extends Workload {
  type Result = CorpusPipeline.CorpusReport
  def plantedMetric = "planted_dup_recall"

  private var dir = ""
  private var planted = Seq.empty[Inputs.PlantedCopy]
  private def corpus = s"$dir/corpus"

  def prepare(d: String): Unit = {
    dir = d
    val (df, copies) = Inputs.documents(spark, docs, math.max(2, docs / 20), seed)
    df.write.parquet(s"$corpus/documents.parquet")
    planted = copies
  }

  def run(op: Int, tracer: Option[Tracer]): CorpusPipeline.CorpusReport = tracer match {
    case None => CorpusPipeline.run(spark, corpus, s"$dir/work/op$op")
    case Some(t) => TracedCorpus.run(spark, corpus, s"$dir/work/op$op", t)
  }

  def check(op: Int, r: CorpusPipeline.CorpusReport): Checked = {
    val cluster = spark.read.parquet(r.clustersPath).collect()
      .map(row => row.getAs[Long]("doc_id") -> row.getAs[Long]("cluster_id")).toMap
    val missed = planted.filterNot(p => cluster.get(p.copyId).exists(cluster.get(p.origId).contains))
    Workloads.deleteTree(s"$dir/work/op$op")
    val counts = Seq(r.nDocs, r.nLangKept, r.nQualityKept, r.nDedupKept, r.nNeardupKept,
      r.nClusters, r.nLeakyClusters, r.nLeakedDocs, r.nContainmentPairs) ++
      r.pplBuckets.toSeq.sorted.map { case (b, n) => s"$b=$n" }
    Checked(0, Workloads.md5(counts.mkString(" ")),
      missed.map(p => s"planted copy ${p.copyId} of ${p.origId} not clustered with it"),
      Some(1.0 - missed.size.toDouble / planted.size))
  }
}

/** `DriftDetector.detectDrift(configPath)` replayed call by call, with a span
  * around each call into an analyzer module. It follows the detector's
  * order and branches for the benchmark's config (standard profile, no
  * sampling, no target column); its report must digest like the
  * detector's, which the run checks. */
object TracedDrift {
  def detect(spark: SparkSession, configPath: String, tr: Tracer): DriftReport = {
    val t0 = System.nanoTime()
    val run = ConfigReader.readFile(configPath)
    val config = run.config
    require(config.sampleSize == 0 && config.targetColumn.isEmpty,
      "the traced replay covers unsampled runs without a target column")
    val source = new VersionedParquetTable(run.tablePath)
    val ref = tr.span("snapshot_load_s", "VersionedParquetTable.load")(source.load(spark, run.refVersion))
    val curr = tr.span("snapshot_load_s", "VersionedParquetTable.load")(source.load(spark, run.currVersion))

    val schemaChanges = SchemaOps.diff(ref.schema, curr.schema)
    val common = ref.columns.toSeq.intersect(curr.columns.toSeq)
      .filter(c => config.includeColumns.isEmpty || config.includeColumns.contains(c))
      .filterNot(config.excludeColumns.contains)
    val toInfer = common.filterNot(config.customColumnTypes.contains)
    val inferred = if (toInfer.isEmpty) Map.empty[String, String]
      else tr.span("type_inference_s", "TypeInference.infer")(
        TypeInference.infer(ref.select(toInfer.map(col): _*)))
    val types = inferred ++ config.customColumnTypes.filter { case (k, _) => common.contains(k) }
    val numericCols = common.filter(c => types(c) == "numerical")
    val catCols = common.filter(c => types(c) == "categorical")

    def causes(s: String) = Option(s).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val numeric = if (numericCols.isEmpty) Seq.empty
      else tr.span("numeric_drift_s", "NumericDrift.driftForPair")(
        NumericDrift.driftForPair(ref, curr, numericCols, approx = config.approx).collect()).toSeq.map { r =>
        NumericColumnDrift(r.getAs[String]("column_name"),
          r.getAs[Double]("ref_mean"), r.getAs[Double]("curr_mean"),
          r.getAs[Double]("mean_rel_diff"), r.getAs[Double]("median_rel_diff"),
          r.getAs[Double]("std_dev_rel_diff"), r.getAs[Double]("iqr_rel_diff"),
          r.getAs[Double]("range_rel_diff"), r.getAs[Double]("null_diff"),
          r.getAs[Double]("drift_score"), r.getAs[Boolean]("drift_detected"),
          causes(r.getAs[String]("drift_causes")))
      }
    val categorical = if (catCols.isEmpty) Seq.empty
      else tr.span("categorical_drift_s", "CategoricalDrift.categoricalDriftForPair")(
        CategoricalDrift.categoricalDriftForPair(ref, curr, catCols,
          exactPValue = config.exactChiPValue).collect()).toSeq.map { r =>
        CategoricalColumnDrift(r.getAs[String]("column_name"),
          r.getAs[Double]("js_divergence"), r.getAs[Double]("chi_p_value"),
          r.getAs[Double]("null_proportion_diff"),
          r.getAs[Double]("new_categories_ratio"), r.getAs[Double]("missing_categories_ratio"),
          r.getAs[Double]("drift_score"), r.getAs[Boolean]("drift_detected"),
          causes(r.getAs[String]("drift_causes")))
      }

    val empty = spark.emptyDataFrame
    val errors = scala.collection.mutable.Buffer[String]()
    // the detector caches and counts each family result, and keeps going
    // when one fails
    def safe(metric: String, name: String, family: String)(body: => DataFrame): DataFrame =
      tr.span(metric, name) {
        try { val df = body.cache(); df.count(); df }
        catch { case scala.util.control.NonFatal(e) => errors += s"$family: ${e.getMessage}"; empty }
      }
    val dist = config.analyzeDistributions
    val rareOn = config.detectRareEvents
    val quantiles = if (dist && numericCols.nonEmpty)
      safe("numeric_drift_s", "NumericDrift.quantileShiftsForPair", "quantile_shifts")(
        NumericDrift.quantileShiftsForPair(ref, curr, numericCols, approx = config.approx)) else empty
    val shapes = if (dist && numericCols.nonEmpty)
      safe("numeric_drift_s", "NumericDrift.shapesForPair", "shapes")(
        NumericDrift.shapesForPair(ref, curr, numericCols)) else empty
    val jsFull = if (dist && catCols.nonEmpty)
      safe("categorical_drift_s", "CategoricalDrift.jsFullForPair", "js_full")(
        CategoricalDrift.jsFullForPair(ref, curr, catCols, threshold = config.jsDistanceThreshold)) else empty
    val rareValues = if (dist && rareOn && catCols.nonEmpty)
      safe("categorical_drift_s", "CategoricalDrift.rareValueChangesForPair", "rare_value_changes")(
        CategoricalDrift.rareValueChangesForPair(ref, curr, catCols, thr = config.rareValueThreshold)) else empty
    val histograms = if (dist && config.genDistributionSummaries && numericCols.nonEmpty)
      safe("numeric_drift_s", "NumericDrift.histogramForPair", "histograms")(
        NumericDrift.histogramForPair(ref, curr, numericCols)) else empty
    val zOut = if (rareOn && numericCols.nonEmpty)
      safe("numeric_drift_s", "NumericDrift.zOutliersForPair", "z_outliers")(
        NumericDrift.zOutliersForPair(ref, curr, numericCols)) else empty
    val corrCols = if (config.analyzeCorrelations && numericCols.size >= 2)
      tr.span("correlation_s", "CorrelationDrift.validColumns")(
        CorrelationDrift.validColumns(ref, curr, numericCols)) else Seq.empty
    val corr = if (corrCols.size >= 2)
      safe("correlation_s", "CorrelationDrift.forPair", "correlations")(
        CorrelationDrift.forPair(ref, curr, corrCols, config)) else empty
    val rare = if (rareOn && catCols.nonEmpty)
      safe("categorical_drift_s", "CategoricalDrift.rareCategoriesForPair", "rare_categories")(
        CategoricalDrift.rareCategoriesForPair(ref, curr, catCols, maxFreq = config.rareValueThreshold)) else empty

    val groupDims =
      if (config.groupColumns.nonEmpty) config.groupColumns.filter(catCols.contains) else catCols.take(3)
    // one child span per dimension's call; the parent's self time is the
    // detector's cache-and-count of their union
    val groups = if (config.analyzeGroups && groupDims.nonEmpty)
      safe("group_drift_s", "GroupDrift.forPair union", "group_drift")(groupDims.map(d =>
        tr.span("group_drift_s", s"GroupDrift.forPair($d)")(
          GroupDrift.forPair(ref, curr, d, numericCols, catCols.filterNot(_ == d)))).reduce(_ union _))
      else empty
    val groupCorr = if (config.analyzeGroups && config.analyzeCorrelations &&
        groupDims.nonEmpty && corrCols.size >= 2)
      safe("correlation_s", "CorrelationDrift.groupCorrelationsForPair union", "group_correlations")(
        groupDims.take(3).map(d => tr.span("correlation_s", s"CorrelationDrift.groupCorrelationsForPair($d)")(
          CorrelationDrift.groupCorrelationsForPair(ref, curr, d, corrCols))).reduce(_ unionByName _))
      else empty

    // the detector's assessment: not inside any module call, so unattributed
    def countOf(family: String)(df: DataFrame, pred: Column): Int =
      try df.filter(pred).count().toInt
      catch { case scala.util.control.NonFatal(e) => errors += s"$family: ${e.getMessage}"; 0 }
    val numDriftCols = numeric.filter(_.driftDetected).map(_.column)
    val catDriftCols = categorical.filter(_.driftDetected).map(_.column)
    val corrShifts = if (corr.columns.contains("significant_shift"))
      countOf("corr_shift_count")(corr, col("significant_shift")) else 0
    val numDistDrift = if (shapes.columns.contains("skew_change"))
      countOf("shape_drift_count")(shapes, col("skew_change") =!= "none" || col("kurt_change") =!= "none")
      else 0
    val catDistDrift = if (jsFull.columns.contains("significant_change"))
      countOf("js_full_count")(jsFull, col("significant_change")) else 0
    val driftCount = numDriftCols.size + catDriftCols.size + corrShifts
    val severity = if (driftCount > 10) "high" else if (driftCount > 5) "medium" else "low"
    val assessment = (severity match {
      case "high" => "Significant data drift detected across multiple dimensions and metrics."
      case "medium" => "Moderate data drift detected in several columns and relationships."
      case _ => "Minor data drift detected in a few columns or metrics."
    }) + s" Severity: ${severity.toUpperCase}"
    val driftDetected = numDriftCols.nonEmpty || catDriftCols.nonEmpty || corrShifts > 0 ||
      numDistDrift > 0 || catDistDrift > 0

    val report = DriftReport(schemaChanges, types, numeric, categorical, quantiles, shapes,
      jsFull, rareValues, histograms, zOut, corr, rare, groups, groupCorr, empty, errors.toSeq,
      driftDetected, assessment, Nil, (System.nanoTime() - t0) / 1e9)
    run.outputTable.foreach(out =>
      tr.span("results_write_s", "Results.writeResults")(Results.writeResults(spark, report, out)))
    report
  }
}

/** `CorpusPipeline.run` replayed stage by stage, with a span around each
  * call into a pipeline module. */
object TracedCorpus {
  def run(spark: SparkSession, dir: String, workDir: String, tr: Tracer): CorpusPipeline.CorpusReport = {
    val checkpointsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val scope = new CacheScope
    try {
      val funnel = tr.span("corpus_funnel_s", "TextAnalysis.corpusPrepNeardup")(
        TextAnalysis.corpusPrepNeardup(spark, dir, Some(scope)).collect())
      def sumCol(c: String): Long = funnel.map(_.getAs[Long](c)).sum
      val clustersPath = s"$workDir/neardup_clusters.parquet"
      val clusters = tr.span("neardup_s", "Dedup.neardupComponents")(
        Dedup.neardupComponents(table(spark, dir, "documents").select("doc_id", "text"), scope = Some(scope)))
      tr.span("neardup_s", "Dedup.writeClusters")(Dedup.writeClusters(clusters, clustersPath))
      val (artifact, nClusters) = tr.span("leakage_audit_s", "Dedup.readClusters") {
        val a = Dedup.readClusters(spark, clustersPath)
        (a, a.filter(col("cluster_id") === col("doc_id")).count())
      }
      val leak = tr.span("leakage_audit_s", "DataSplit.splitLeakageNeardup")(
        DataSplit.splitLeakageNeardup(spark, dir, precomputed = Some(artifact)).collect()(0))
      val nContainment = tr.span("containment_s", "Dedup.containmentPairs")(
        Dedup.containmentPairs(spark, dir, scope = Some(scope)).count())
      val buckets = tr.span("ppl_buckets_s", "LmScore.lmPplBuckets")(
        LmScore.lmPplBuckets(spark, dir, scope = Some(scope)).collect())
        .groupBy(_.getAs[String]("bucket"))
        .map { case (b, rs) => b -> rs.map(_.getAs[Long]("n_docs")).sum }
      CorpusPipeline.CorpusReport(
        nDocs = sumCol("n_docs"), nLangKept = sumCol("n_lang_kept"),
        nQualityKept = sumCol("n_quality_kept"), nDedupKept = sumCol("n_dedup_kept"),
        nNeardupKept = sumCol("n_neardup_kept"), nClusters = nClusters,
        nLeakyClusters = leak.getAs[Long]("n_leaky_clusters"),
        nLeakedDocs = leak.getAs[Long]("n_leaked_docs"),
        pplBuckets = buckets, clustersPath = clustersPath, nContainmentPairs = nContainment)
    } finally {
      scope.release()
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => checkpointsBefore(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }
}
