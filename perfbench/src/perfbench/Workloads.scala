package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.app.{RunCorpusPipeline, RunPipeline}
import graft.app.RunCorpusPipeline.CorpusConfig
import graft.core.PipelineConfig
import graft.functions.TextFunctions
import graft.ml.FraudModel
import graft.operators._
import graft.quality.CheckSuite
import graft.sources.{BronzeIngestion, TableIO}

/** One call into the program: its latency and, if it threw, why. */
final case class Call(name: String, seconds: Double, error: Option[String])

/** One pass of a workload: wall time from the first call until the last
  * output landed, and each call.
  */
final case class PassResult(wall: Double, calls: Seq[Call])

object Calls {
  def describe(t: Throwable): String = s"${t.getClass.getName}: ${t.getMessage}"

  /** Time one call; a throw is recorded, not propagated. */
  def timed(name: String)(body: => Unit): Call = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Exception => Some(describe(e)) }
    Call(name, (System.nanoTime() - t0) / 1e9, err)
  }
}

/** A workload: inputs generated from a seed, one pass through the
  * program's public entry points (or, traced, the same stages called one
  * at a time inside spans), and checks of every pass's outputs.
  */
trait Workload {
  type Prep
  def name: String
  /** Generate the inputs under `dir`. */
  def prepare(spark: SparkSession, dir: Path, seed: Long): Prep
  /** One pass writing under the fresh directory `root`. */
  def run(spark: SparkSession, prep: Prep, root: Path, tracer: Option[Tracer]): PassResult
  /** Output checks of a finished pass: (call index, failure) pairs. */
  def check(spark: SparkSession, prep: Prep, root: Path, pass: PassResult): Seq[(Int, String)]
  /** Row counts and digests that a traced pass must share with an
    * untraced one over the same inputs.
    */
  def digest(spark: SparkSession, root: Path): Seq[(String, String)]
  /** Build standing state the passes start from (once, after the inputs). */
  def standUp(spark: SparkSession, prep: Prep): Unit = ()
  /** Latencies of the calls that batch_p50_s summarises. */
  def batchLatencies(pass: PassResult): Seq[Double] = pass.calls.map(_.seconds)
  /** Input rows of one call: the base of the per-layer amplification
    * ratios.
    */
  def callRows(prep: Prep): Long
}

object Workload {
  def all: Seq[Workload] = Seq(FraudMedallion, Corpus)

  def count(spark: SparkSession, path: String): Long = spark.read.parquet(path).count()

  /** md5 of the table's rows rendered as text (doubles to 9 significant
    * digits: sums of doubles are not bit-stable across task orders) and
    * sorted, so the digest does not depend on partitioning.
    */
  def tableDigest(df: DataFrame): String = {
    val lines = df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9g"
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    val md = MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def expect(failures: scala.collection.mutable.Buffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) failures += what
}

/** The paper's batch medallion: raw CSV -> bronze -> silver -> features ->
  * gold -> RandomForest train, evaluate and predict
  * (`RunPipeline.run(train = true)`).
  */
object FraudMedallion extends Workload {
  final case class Prep(raw: Path, truth: TxnTruth)
  val name = "fraud_medallion"
  val Rows = 20000L
  val InputFiles = 8
  /** The hold-out AUC must clear this floor; it drifts at ~5e-7 between
    * runs on the same input, so it is checked against a floor, not a
    * digest.
    */
  val AucFloor = 0.75

  def callRows(prep: Prep): Long = prep.truth.rawRows

  def prepare(spark: SparkSession, dir: Path, seed: Long): Prep = {
    val raw = dir.resolve("raw")
    Prep(raw, TxnGen.generate(spark, raw.toString, seed, Rows, InputFiles))
  }

  private def stageRaw(prep: Prep, cfg: PipelineConfig): Unit = {
    val dst = Paths.get(cfg.rawCsv)
    Files.createDirectories(dst)
    Files.list(prep.raw).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".txt"))
      .foreach(f => Files.copy(f, dst.resolve(f.getFileName.toString.stripSuffix(".txt") + ".csv")))
  }

  def run(spark: SparkSession, prep: Prep, root: Path, tracer: Option[Tracer]): PassResult = {
    val cfg = PipelineConfig(root.toString)
    stageRaw(prep, cfg)
    val call = tracer match {
      case None => Calls.timed("RunPipeline.run")(RunPipeline.run(spark, cfg, train = true))
      case Some(t) => Calls.timed("RunPipeline.run (traced)")(t.span(Tracer.Root)(traced(spark, cfg, t)))
    }
    PassResult(call.seconds, Seq(call))
  }

  /** RunPipeline.run(train = true), stage by stage, each inside a span.
    * The self-test in the traced run compares its outputs with the
    * untraced entry point's, so this copy cannot drift unnoticed.
    */
  private def traced(spark: SparkSession, cfg: PipelineConfig, t: Tracer): Unit = {
    t.span("sources.bronze", Seq(cfg.bronze, cfg.quarantine)) {
      BronzeIngestion.ingestToBronze(spark, cfg.rawCsv, cfg.bronze, cfg.quarantine, cfg.format)
    }
    val silver = SilverTransform.transform(TableIO.read(spark, cfg.format, cfg.bronze))
    t.span("quality.checks") { CheckSuite.requirePass(silver, CheckSuite.silverSuite) }
    t.span("operators.silver", Seq(cfg.silver("train"), cfg.silver("test"))) {
      val (trainDf, testDf) = SilverTransform.chronoSplit(silver, cfg.splitTimestamp)
      TableIO.write(trainDf, cfg.format, cfg.silver("train"))
      TableIO.write(testDf, cfg.format, cfg.silver("test"))
    }
    t.span("operators.features", Seq(cfg.features("train"), cfg.features("test"))) {
      for (split <- Seq("train", "test")) {
        val s = TableIO.read(spark, cfg.format, cfg.silver(split))
        TableIO.write(BehavioralFeatures.addFeatures(s), cfg.format, cfg.features(split))
      }
    }
    t.span("operators.gold", Seq(cfg.goldDaily, cfg.goldHourly)) {
      val silverAll = TableIO.read(spark, cfg.format, cfg.silver("train"))
        .unionByName(TableIO.read(spark, cfg.format, cfg.silver("test")))
      TableIO.write(GoldAggregations.dailyFraudSummary(silverAll), cfg.format, cfg.goldDaily)
      TableIO.write(GoldAggregations.hourlyPatterns(silverAll), cfg.format, cfg.goldHourly)
    }
    val trainFeats = TableIO.read(spark, cfg.format, cfg.features("train"))
    val testFeats = TableIO.read(spark, cfg.format, cfg.features("test"))
    val model = t.span("ml.train") { FraudModel.trainSimple(trainFeats) }
    val auc = t.span("ml.eval") { FraudModel.aucOf(model, testFeats) }
    t.span("ml.predict", Seq(cfg.predictions, cfg.modelDir)) {
      FraudModel.save(model, cfg.modelDir, Map("test_auc" -> auc))
      FraudModel.predict(model, testFeats)
        .write.format(cfg.format).mode(SaveMode.Overwrite).save(cfg.predictions)
    }
  }

  /** The hold-out AUC the pipeline saved in its model registry. */
  def testAuc(root: Path): Double = {
    val reg = Files.readString(Paths.get(PipelineConfig(root.toString).modelDir, "registry.json"))
    """"test_auc":\s*([-0-9.Ee]+)""".r.findFirstMatchIn(reg)
      .map(_.group(1).toDouble)
      .getOrElse(throw new IllegalStateException(s"no test_auc in registry: $reg"))
  }

  def check(spark: SparkSession, prep: Prep, root: Path, pass: PassResult): Seq[(Int, String)] = {
    if (pass.calls.head.error.isDefined) return Nil
    val cfg = PipelineConfig(root.toString)
    val tr = prep.truth
    val f = scala.collection.mutable.Buffer.empty[String]
    import Workload.{count, expect}
    val q = count(spark, cfg.quarantine)
    expect(f, q == tr.malformed, s"quarantine rows $q != planted malformed rows ${tr.malformed}")
    val train = spark.read.parquet(cfg.silver("train"))
    val nTrain = train.count()
    val nTest = count(spark, cfg.silver("test"))
    // rows with an empty timestamp are clean but fall in neither split
    expect(f, nTrain + nTest == tr.cleanRows - tr.nullTs,
      s"silver train+test rows ${nTrain + nTest} != clean rows with a timestamp " +
        s"${tr.cleanRows - tr.nullTs}")
    expect(f, nTest == tr.testRows, s"silver test rows $nTest != ${tr.testRows}")
    val late = train.filter(col("timestamp") >= lit(cfg.splitTimestamp)).count()
    expect(f, late == 0, s"$late train rows at or after the split")
    val daily = spark.read.parquet(cfg.goldDaily).agg(sum("total_transactions")).head().getLong(0)
    expect(f, daily == nTrain + nTest, s"gold daily total_transactions $daily != silver rows")
    val hourly = count(spark, cfg.goldHourly)
    expect(f, hourly <= 24, s"gold hourly has $hourly rows")
    val preds = count(spark, cfg.predictions)
    // the assembler skips rows with a null raw feature (the null gaps)
    expect(f, preds == tr.testComplete,
      s"prediction rows $preds != test rows with complete features ${tr.testComplete}")
    val auc = testAuc(root)
    expect(f, auc >= AucFloor, s"test_auc $auc below floor $AucFloor")
    if (f.isEmpty) Nil else Seq(0 -> s"CheckFailed: ${f.mkString("; ")}")
  }

  def digest(spark: SparkSession, root: Path): Seq[(String, String)] = {
    val cfg = PipelineConfig(root.toString)
    val counts = Seq(
      "bronze" -> cfg.bronze, "quarantine" -> cfg.quarantine,
      "silver.train" -> cfg.silver("train"), "silver.test" -> cfg.silver("test"),
      "features.train" -> cfg.features("train"), "features.test" -> cfg.features("test"),
      "gold.daily" -> cfg.goldDaily, "gold.hourly" -> cfg.goldHourly,
      "predictions" -> cfg.predictions)
      .map { case (k, p) => s"rows.$k" -> Workload.count(spark, p).toString }
    counts ++ Seq(
      "digest.gold.daily" -> Workload.tableDigest(spark.read.parquet(cfg.goldDaily)),
      "digest.gold.hourly" -> Workload.tableDigest(spark.read.parquet(cfg.goldHourly)))
  }
}

/** The LLM-corpus side: `RunCorpusPipeline.run(nearDedup = true)` over a
  * corpus (annotate, gate, exact and MinHash dedup, chunk, pack, write
  * shards), then a fixed sequence of small batches folded one call at a
  * time through `Ingest.ingestIncrement` against the corpus's standing
  * fingerprint index and cluster store, built in set-up and restored
  * before every pass. The first call is throughput-bound (text kernels,
  * one big dedup shuffle); the batch calls are bound by jobs per call.
  */
object Corpus extends Workload {
  final case class Prep(docs: Path, truth: Path, batches: Seq[Path], state: Path)
  val name = "corpus"
  val Docs = 3000L
  val InputFiles = 8
  val Batches = 1
  val BatchDocs = 200

  /** A shard budget of 16k tokens gives a few shards per source; the
    * 1k default would write a directory per thousand tokens.
    */
  def config(root: Path): CorpusConfig =
    CorpusConfig(root = root.resolve("prep").toString, nearDedup = true, budgetTokens = 16384L)

  private def ingestDirs(root: Path) =
    (root.resolve("index").toString, root.resolve("cluster_store").toString,
      root.resolve("silver").toString)

  def callRows(prep: Prep): Long = BatchDocs

  def prepare(spark: SparkSession, dir: Path, seed: Long): Prep = {
    val plan = CorpusGen.prepPlan(spark, seed, Docs, InputFiles).cache()
    try {
      val batches = (1 to Batches).map(b => dir.resolve(s"batch$b"))
      val plans = (1 to Batches).map { b =>
        CorpusGen.batchPlan(spark, seed, b, BatchDocs, CorpusGen.originals(Docs))
      }
      val prep = Prep(dir.resolve("documents"), dir.resolve("truth"), batches, dir.resolve("state"))
      CorpusGen.docs(seed, plan).write.mode("overwrite").parquet(prep.docs.toString)
      batches.zip(plans).foreach { case (p, bp) =>
        CorpusGen.docs(seed, bp).write.mode("overwrite").parquet(p.toString)
      }
      (plan.select("doc_id", "key", "kind") +: plans.map(_.select("doc_id", "key", "kind")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(prep.truth.toString)
      prep
    } finally plan.unpersist()
  }

  /** The standing index and cluster store: the corpus folded in as batch 0. */
  override def standUp(spark: SparkSession, prep: Prep): Unit = {
    val (index, store, silver) = ingestDirs(prep.state)
    Ingest.ingestIncrement(spark.read.parquet(prep.docs.toString), "doc_id", "text",
      index, store, silver, 0L)
  }

  def run(spark: SparkSession, prep: Prep, root: Path, tracer: Option[Tracer]): PassResult = {
    Workload.copyTree(prep.state, root)
    val cfg = config(root)
    val (index, store, silver) = ingestDirs(root)
    val t0 = System.nanoTime()
    val calls = Tracer.root(tracer) {
      val docs = spark.read.parquet(prep.docs.toString)
      val batches = prep.batches.map(p => spark.read.parquet(p.toString))
      val first = Calls.timed("RunCorpusPipeline.run") {
        tracer.fold(RunCorpusPipeline.run(spark, docs, cfg))(t => traced(spark, docs, cfg, t))
      }
      first +: batches.zipWithIndex.map { case (batch, i) =>
        val batchId = i + 1L
        Calls.timed(s"Ingest.ingestIncrement batch $batchId") {
          def call() = Ingest.ingestIncrement(batch, "doc_id", "text", index, store, silver, batchId)
          tracer.fold(call()) { t =>
            t.span("operators.ingest_increment", Seq(s"$silver/batch=$batchId"))(call())
          }
        }
      }
    }
    PassResult((System.nanoTime() - t0) / 1e9, calls)
  }

  /** Latency of the batch calls; the first call is the whole corpus run. */
  override def batchLatencies(pass: PassResult): Seq[Double] = pass.calls.drop(1).map(_.seconds)

  /** RunCorpusPipeline.run for this workload's config (no eval set, no
    * surprisal band, strips or DSIR), stage by stage inside spans. The
    * self-test in the traced run compares its outputs with the entry
    * point's, so this copy cannot drift unnoticed.
    */
  private def traced(spark: SparkSession, docs: DataFrame, cfg: CorpusConfig, t: Tracer): Unit = {
    t.span("functions.annotate", Seq(RunCorpusPipeline.annotated(cfg))) {
      docs
        .select(Seq(
          col("doc_id"), col("source"), col("text"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.languageId(col("text")).as("lang_pred"),
          TextFunctions.fingerprint(col("text")).as("fp"),
          TextFunctions.topGramFraction(col("text"), 2).as("top_gram_frac"),
          TextFunctions.repetitionRatio(col("text"), 3).as("repetition_ratio"),
          TextFunctions.redactPii(col("text")).as("clean_text")) ++
          TextFunctions.PiiPatterns.map { case (kind, _) =>
            TextFunctions.piiCount(col("text"), kind).as(s"n_pii_${kind.toLowerCase}")
          }: _*)
        .write.mode("overwrite").parquet(RunCorpusPipeline.annotated(cfg))
    }
    t.span("operators.dedup", Seq(RunCorpusPipeline.silver(cfg))) {
      val ann = spark.read.parquet(RunCorpusPipeline.annotated(cfg))
      val gated = ann.filter(
        col("quality") >= cfg.minQuality && col("lang_pred").isin(cfg.langs.toSeq: _*) &&
          col("top_gram_frac") <= cfg.maxTopGramFrac &&
          col("repetition_ratio") <= cfg.maxRepetition && lit(true))
      val exactDeduped = gated
        .withColumn("_rn", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("_rn") === 1)
        .drop("_rn")
      Components.dropNearDuplicates(exactDeduped, "doc_id", "text", minJaccard = cfg.nearDedupJaccard)
        .write.mode("overwrite").parquet(RunCorpusPipeline.silver(cfg))
    }
    t.span("operators.pack_write", Seq(RunCorpusPipeline.shards(cfg))) {
      val chunks = Chunker
        .chunkDocuments(spark.read.parquet(RunCorpusPipeline.silver(cfg)), "clean_text", "doc_id",
          cfg.window, cfg.stride, carryCols = Seq("source"))
        .withColumn("chunk_uid", packedChunkUid)
      val packed = TrainingData.packShards(
        chunks, "chunk_uid", "source", col("n_chunk_tokens"), cfg.budgetTokens)
      TrainingData.writeShards(packed, "source", "chunk_uid", RunCorpusPipeline.shards(cfg))
    }
  }

  /** Same expression as the pipeline's private chunk-uid packing. */
  private def packedChunkUid: Column =
    when(
      col("chunk_id") >= 1000 ||
        col("doc_id") < 0 || col("doc_id") > 9223372036854775L,
      raise_error(concat(
        lit("chunk_uid pack out of range (needs 0 <= chunk_id < 1000, "),
        lit("0 <= doc_id <= Long.Max/1000): doc_id="), col("doc_id"),
        lit(" chunk_id="), col("chunk_id"))).cast("long"))
      .otherwise(col("doc_id") * 1000L + col("chunk_id"))

  def check(spark: SparkSession, prep: Prep, root: Path, pass: PassResult): Seq[(Int, String)] = {
    val truth = spark.read.parquet(prep.truth.toString)
    val first = if (pass.calls.head.error.isDefined) None else checkPrep(spark, truth, root).map(0 -> _)
    val (_, _, silver) = ingestDirs(root)
    first.toSeq ++ pass.calls.indices.drop(1).filter(i => pass.calls(i).error.isEmpty).flatMap { i =>
      val batchId = i.toLong
      val survivors = spark.read.parquet(s"$silver/batch=$batchId").select("doc_id")
      val mine = truth.filter(col("doc_id").between(
        batchId * CorpusGen.BatchStride, (batchId + 1) * CorpusGen.BatchStride - 1))
      val missing = mine.filter(col("kind") === "novel").join(survivors, Seq("doc_id"), "left_anti").count()
      val kept = mine.filter(col("kind") === "copy").join(survivors, Seq("doc_id"), "left_semi").count()
      val f = scala.collection.mutable.Buffer.empty[String]
      Workload.expect(f, missing == 0, s"$missing novel docs of batch $batchId dropped")
      Workload.expect(f, kept == 0, s"$kept planted exact copies of indexed docs in batch $batchId survived")
      if (f.isEmpty) None else Some(i -> s"CheckFailed: ${f.mkString("; ")}")
    }
  }

  private def checkPrep(spark: SparkSession, truth: DataFrame, root: Path): Option[String] = {
    val cfg = config(root)
    val f = scala.collection.mutable.Buffer.empty[String]
    val kept = spark.read.parquet(RunCorpusPipeline.silver(cfg)).select("doc_id")
    Workload.expect(f, kept.count() > 0, "no document kept")
    val doubled = kept.join(truth.filter(col("kind").isin("original", "copy")), "doc_id")
      .groupBy("key").count().filter(col("count") > 1).count()
    Workload.expect(f, doubled == 0, s"$doubled planted exact-copy groups keep more than one doc")
    val shards = RunCorpusPipeline.shards(cfg)
    val fromRows = spark.read.parquet(s"$shards/data")
      .groupBy("source", "shard_idx")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
    val manifest = spark.read.parquet(s"$shards/manifest")
      .select("source", "shard_idx", "n_docs", "shard_tokens")
    val off = fromRows.exceptAll(manifest).count() + manifest.exceptAll(fromRows).count()
    Workload.expect(f, off == 0, s"$off shard manifest rows disagree with the shard data")
    if (f.isEmpty) None else Some(s"CheckFailed: ${f.mkString("; ")}")
  }

  def digest(spark: SparkSession, root: Path): Seq[(String, String)] = {
    val cfg = config(root)
    val shards = RunCorpusPipeline.shards(cfg)
    val (index, store, silver) = ingestDirs(root)
    Seq(
      "rows.annotated" -> RunCorpusPipeline.annotated(cfg),
      "rows.silver" -> RunCorpusPipeline.silver(cfg),
      "rows.shards" -> s"$shards/data",
      "rows.index" -> index,
      "rows.ingested" -> silver).map { case (k, p) => k -> Workload.count(spark, p).toString } ++ Seq(
      "digest.manifest" -> Workload.tableDigest(spark.read.parquet(s"$shards/manifest")),
      "digest.cluster_store" -> Workload.tableDigest(ClusterStore.read(spark, store)))
  }
}
