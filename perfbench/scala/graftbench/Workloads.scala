package graftbench

import graft.ml.FarePipeline
import graft.operators.Cleaning
import graft.quality.Gates
import graft.sources.Sources
import graft.sources.tiles.GraftTileMaintenance
import graft.warehouse.StarSchema

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.security.MessageDigest
import java.time.LocalDate
import scala.jdk.CollectionConverters._

object Util {
  /** Order-free SHA-256 of a result: its rows as strings, sorted. */
  def hash(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Runs `f` as untimed work inside an op (output checks, housekeeping):
    * a `check` span when tracing; its time goes to [[Untimed]] for the
    * harness to take out of the op. */
  def untimed[T](tr: Trace)(f: => T): T = {
    val t0 = System.nanoTime()
    try tr.span(Trace.Check)(f) finally Untimed.ns += System.nanoTime() - t0
  }

  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) of every regular file under `dir`, by path. */
  def files(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
}

/** `dashboard`: the 14 dashboard-derived registry entries in a seeded
  * order, one client, closed loop. Each result is collected; nothing is
  * cached between queries. The first result of each entry is its
  * reference (checked against the DuckDB oracle once per run by the
  * runner); every later execution must reproduce its hash. */
final class Dashboard(dir: String, seed: Long) extends Workload {
  val opName = "dashboard.query"
  override def roundSize: Int = names.size
  // the second and third passes still run 10-15% slower than later ones
  override def settlePasses: Int = 2
  val names: IndexedSeq[String] = IndexedSeq(
    "p10_between_isin", "a1_kpi_global", "a2_minmax_range", "a4_daily_series",
    "a5_two_key_group", "a6_group_sum_desc", "a7_distinct_list", "a9_multistat",
    "j1_broadcast_dim", "j2_fact_join", "j3_time_join", "j4_star_join",
    "t3_topk_rank", "w2_running_sum")
  private val registry = { val q = graft.SparkEntry.queries; names.map(n => n -> q(n)).toMap }
  private val rnd = new scala.util.Random(seed)
  private var order = IndexedSeq.empty[String]
  private val reference = scala.collection.mutable.Map.empty[String, (String, StructType, Seq[Row])]

  private def nameOf(i: Int): String = {
    if (i % names.size == 0) order = rnd.shuffle(names)
    order(i % names.size)
  }

  /** Build, optimise, plan and run one entry, each phase its own span. */
  private def query(spark: SparkSession, tr: Trace, name: String): (Seq[Row], StructType) = {
    val df = tr.span("analytics.build") {
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val d = registry(name)(spark, dir)
      // Catalyst analyses eagerly while the frame is built; the tracker
      // holds the final plan's analysis phase, recorded as a child span
      if (tr.on) d.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
        .foreach { p =>
          val s = n0 + math.max(0L, p.startTimeMs - w0) * 1000000L
          tr.child("catalyst.analyze", s, math.min(System.nanoTime(), s + p.durationMs * 1000000L))
        }
      d
    }
    tr.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
    tr.span("catalyst.plan")(df.queryExecution.executedPlan)
    val rows = tr.span("exec.run")(df.collect().toSeq)
    (rows, df.schema)
  }

  def warmup(spark: SparkSession, tr: Trace): Seq[String] =
    names.indices.flatMap { i =>
      val name = nameOf(i)
      val (rows, schema) = query(spark, tr, name)
      spark.catalog.clearCache()
      val h = Util.hash(rows)
      reference.get(name) match {
        case None => reference(name) = (h, schema, rows); None
        case Some((ref, _, _)) => if (h == ref) None else Some(s"$name hash changed")
      }
    }

  def op(spark: SparkSession, tr: Trace, i: Int): OpResult = {
    val name = nameOf(i)
    val t0 = System.nanoTime()
    val (rows, _) = query(spark, tr, name)
    spark.catalog.clearCache()
    val ns = System.nanoTime() - t0
    val same = Util.untimed(tr)(Util.hash(rows) == reference(name)._1)
    OpResult(1L, ns, if (same) Nil else Seq(s"$name result hash differs"))
  }

  /** Writes each entry's reference result and its oracle SQL for the
    * runner's DuckDB check. */
  override def afterSetup(spark: SparkSession, work: String): Unit = {
    val out = s"$work/reference"
    val oracle = graft.SparkEntry.oracleSql
    reference.foreach { case (name, (_, schema, rows)) =>
      Util.local(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.map(n => n -> oracle(n))))
  }

  override def info: Map[String, Any] = Map("entries" -> names, "loop" -> "closed, 1 client")
}

/** `monthly_dag`: the reference's month without training, as a backfill
  * of consecutive months into a fresh mart (reset every `months.size`
  * months, outside the timing). One month: ingest, gates, warehouse load
  * through the tiles connector, an idempotent re-run of the load, and
  * batch scoring with the seeded model ([[Prepare]] trains it). */
final class MonthlyDag(dir: String, work: String) extends Workload {
  val opName = "monthly_dag.month"
  override def roundSize: Int = months.size
  private val months: IndexedSeq[(String, String)] =
    new File(dir).listFiles.map(_.getName).filter(n => n.startsWith("raw_") && n.endsWith(".parquet"))
      .sorted.map(n => n.stripPrefix("raw_").stripSuffix(".parquet") -> s"$dir/$n").toIndexedSeq
  private val modelDir = s"$dir/model"
  private val batch = s"$dir/score_batch.parquet"
  private val staging = s"$work/staging"
  private val mart = new File(s"$work/mart").getAbsolutePath
  private val dims = s"$work/dims"
  private val scored = s"$work/scored"
  private var batchRows = 0L

  private val casts = Seq("user_id" -> LongType, "value" -> DoubleType, "ts" -> TimestampType)
  private val martSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("day", DateType)))

  private def inputBytes(path: String): Long = new File(path).length

  private def resetMart(spark: SparkSession): Unit = {
    Util.deleteTree(new File(mart))
    Util.local(spark, Nil, martSchema).write.format("graft-tiles").mode("overwrite").save(mart)
  }

  private def martHash(spark: SparkSession): String =
    Util.hash(spark.read.format("graft-tiles").load(mart)
      .agg(count(lit(1)), sum(xxhash64(martSchema.fieldNames.map(col).toSeq: _*).cast(DecimalType(38, 0))))
      .collect().toSeq)

  /** Size by path of every file the DAG has written. */
  private def outputs: Map[String, Long] =
    Seq(staging, mart, dims, scored).flatMap(d => Util.files(new File(d))).toMap

  /** Loads the staged month into the mart; returns the merge report. */
  private def load(spark: SparkSession, tr: Trace, staged: DataFrame) =
    tr.span("warehouse.load") {
      val existing = spark.read.format("graft-tiles").load(mart)
      val add = StarSchema.idempotentAppend(staged, existing, Seq("event_id"))
        .select(martSchema.fieldNames.map(col).toSeq: _*)
      tr.span("sources.tiles_merge")(GraftTileMaintenance.mergeUpsert(spark, mart, add, Seq("event_id")))
    }

  private def month(spark: SparkSession, tr: Trace, k: Int): OpResult = {
    def untimed[T](f: => T): T = Util.untimed(tr)(f)
    val before = untimed {
      if (batchRows == 0) batchRows = spark.read.parquet(batch).count()
      if (k % months.size == 0) resetMart(spark)
      if (tr.on) outputs else Map.empty[String, Long]
    }
    val failures = Seq.newBuilder[String]
    val (ym, path) = months(k % months.size)
    val Array(y, m) = ym.split("-").map(_.toInt)
    val first = LocalDate.of(y, m, 1)

    // 1. ingest
    val clean = tr.span("operators.ingest") {
      val raw = Cleaning.castProjection(spark.read.parquet(path), casts)
      Cleaning.nullGuards(Cleaning.monthWindow(raw, "ts", y, m),
        requiredNonNull = Seq("ts", "event_type", "user_id"), nonNegative = Seq("value"))
        .withColumn("day", to_date(col("ts")))
    }
    // the write, then the staged month opened for the later stages
    val staged = tr.span("sources.write") {
      Sources.partitionedOverwrite(clean, staging, Seq("day"))
      spark.read.parquet(staging)
        .filter(col("day") >= lit(first.toString).cast(DateType) &&
          col("day") < lit(first.plusMonths(1).toString).cast(DateType))
    }

    // 2. gates
    val (retention, floor) = tr.span("quality.gates") {
      val raw = Cleaning.castProjection(spark.read.parquet(path), casts)
      val keep = Cleaning.monthWindowPredicate(col("ts"), y, m) && col("user_id").isNotNull &&
        col("event_type").isNotNull && col("value").isNotNull && col("value") >= 0
      (Gates.retentionGate(raw, keep).head().getAs[String]("status"),
        Gates.floorGate(staged).head().getAs[String]("status"))
    }
    if (retention != "PASS") failures += s"$ym retention gate $retention"
    if (floor != "PASS") failures += s"$ym floor gate $floor"

    // 3. warehouse: dims, then the idempotent append through the tiles table
    tr.span("warehouse.load") {
      StarSchema.dimDate(staged, "ts").write.mode("overwrite").parquet(s"$dims/date/$ym")
      StarSchema.dimTime(staged, "ts").write.mode("overwrite").parquet(s"$dims/time/$ym")
    }
    val merged = load(spark, tr, staged)
    tr.span("sources.tiles_compact")(GraftTileMaintenance.compact(mart))
    if (merged.insertedRows == 0) failures += s"$ym appended no rows"
    val hash = untimed(martHash(spark))

    // 4. idempotent re-run of the month's load
    val rerun = load(spark, tr, staged)
    if (rerun.insertedRows != 0 || rerun.matchedRows != 0)
      failures += s"$ym re-run changed the mart: $rerun"
    if (untimed(martHash(spark)) != hash) failures += s"$ym re-run changed the mart hash"

    // 5. scoring
    val s0 = System.nanoTime()
    val model = tr.span("ml.load")(FarePipeline.load(modelDir))
    val feats = tr.span("ml.features")(FarePipeline.features(spark.read.parquet(batch)))
    tr.span("ml.score") {
      model.transform(feats).select("l_orderkey", "l_linenumber", "prediction")
        .write.mode("overwrite").parquet(s"$scored/$ym")
    }
    val scoreNs = System.nanoTime() - s0
    val n = untimed(spark.read.parquet(s"$scored/$ym").count())
    if (n != batchRows) failures += s"$ym scored $n of $batchRows rows"

    val layers = if (!tr.on) Map.empty[String, Double] else untimed {
      val written = outputs.filter { case (p, b) => !before.get(p).contains(b) }
      Map("sources.files_written" -> written.size.toDouble,
        "sources.bytes_written_per_input_byte" ->
          written.values.sum.toDouble / (inputBytes(path) + inputBytes(batch)))
    }
    OpResult(batchRows, scoreNs, failures.result(), layers)
  }

  def warmup(spark: SparkSession, tr: Trace): Seq[String] = month(spark, tr, 0).failures

  def op(spark: SparkSession, tr: Trace, i: Int): OpResult = month(spark, tr, i)

  override def info: Map[String, Any] = Map("months" -> months.map(_._1),
    "score_batch_rows" -> batchRows, "loop" -> "closed, 1 client")
}

/** Trains the seeded scoring model of a `monthly_dag` input directory,
  * in a JVM of its own, as part of input preparation: training is
  * MLlib's GBT, not a measured stage, and it must not warm the measured
  * JVM before its set-up.
  *
  * {{{ graftbench.Prepare --inputs DIR --seed N }}}
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("inputs")
    val spark = graft.GraftSession.local(cores = Runtime.getRuntime.availableProcessors())
    try {
      val sample = FarePipeline.features(spark.read.parquet(s"$dir/train_sample.parquet"))
      val model = FarePipeline.buildPipeline(Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_discount", "ship_month", "ship_dow"), "label",
        maxDepth = 3, maxIter = 2, seed = opt("seed").toLong).fit(sample)
      FarePipeline.save(model, s"$dir/model")
    } finally spark.stop()
  }
}
