package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl.Cleaning
import graft.io.{Sinks, Sources}
import graft.ml.{Evaluate, Features, Models, TrainJob}
import graft.stats.Statistics
import graft.viz.VizQueries

/** Read-heavy analytics: the paper's own batch job (airline CSV → clean →
  * stats → train → viz) once, then a closed loop over star-schema queries. */
final class AirlineStar(a: Main.Args) extends Workload {
  private val airline = new Airline(s"${a.input}/airline", this)
  private val star = new Star(s"${a.input}/star", a.seed, this)
  def register(spark: SparkSession): Unit = Workload.registerTables(spark, s"${a.input}/star")
  def pass(ctx: Ctx): Unit = airline.pass(ctx)
  def round(ctx: Ctx, n: Int): Boolean = star.round(ctx)
  def dumpChecks(ctx: Ctx): Unit = { airline.dumpChecks(ctx); star.dumpChecks(ctx) }
  override def counters(ctx: Ctx): Map[String, Double] = airline.counters
}

/** Write-heavy ingest: LLM-data curation once, then a closed loop applying a
  * change stream batch by batch with reads in between. */
final class CorpusCdc(a: Main.Args) extends Workload {
  private val corpus = new Corpus(s"${a.input}/corpus", this)
  private val cdc = new Cdc(s"${a.input}/cdc", a.seed, this)
  def register(spark: SparkSession): Unit = Workload.registerTables(spark, s"${a.input}/corpus")
  override def prepare(ctx: Ctx): Unit = cdc.prepare(ctx)
  def pass(ctx: Ctx): Unit = corpus.pass(ctx)
  def round(ctx: Ctx, n: Int): Boolean = cdc.round(ctx)
  def dumpChecks(ctx: Ctx): Unit = { corpus.dumpChecks(ctx); cdc.dumpChecks(ctx) }
  override def counters(ctx: Ctx): Map[String, Double] = cdc.counters(ctx)
}

/** Rows of a collected output, kept for the correctness check. */
final class Outputs(dir: String) {
  private val kept = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  def keep(name: String, df: DataFrame, rows: Array[Row]): Unit =
    if (!kept.contains(name)) kept(name) = (df.schema, rows)
  def dump(ctx: Ctx): Unit = kept.foreach { case (name, (schema, rows)) =>
    Json.write(ctx.out.resolve(s"check/$dir/$name.json"), Json.rows(schema, rows))
  }
}

final class Airline(dir: String, w: Workload) {
  private val csv = s"$dir/flights.csv"
  private var aucs = (0.0, 0.0)

  private val vizQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "flights_per_month" -> VizQueries.flightsPerMonth,
    "flights_per_weekday" -> VizQueries.flightsPerWeekday,
    "flights_per_delay_group" -> (VizQueries.flightsPerDelayGroup(_)),
    "distance_per_year" -> VizQueries.distancePerYear,
    "airline_delay_group_count" -> (VizQueries.airlineDelayGroupCount(_)),
    "airline_delay_group_pivot" -> (VizQueries.airlineDelayGroupPivot(_)))

  def pass(c: Ctx): Unit = {
    val tr = c.tr
    def stage[T](kind: String, name: String, span: String)(body: => T): T =
      w.step(name)(c.time(kind, name)(tr.span(span)(body)))
    val raw = stage("step", "io.read", "io.read")(Sources.csvInferred(c.spark, csv))
    // the cleaned and viz tables are persisted and forced with a noop write,
    // as the reference's clean script caches its input
    def persisted(name: String, f: DataFrame => DataFrame) =
      stage("step", name, name) { val d = f(raw).persist(); Force.noop(d); d }
    val viz = persisted("etl.viz", Cleaning.vizDataset)
    val clean = persisted("etl.clean", Cleaning.cleaned)
    stage("write", "io.write.viz", "io.write")(
      Sinks.csv(viz, c.out.resolve("viz_csv").toString, singleFile = true))
    stage("write", "io.write.clean", "io.write")(
      Sinks.csv(clean, c.out.resolve("clean_csv").toString, singleFile = true))
    val sel = stage("step", "stats.analyze", "stats.analyze")(Statistics.analyze(clean))
    // TVS over one grid point of the reference's LR grid, 10 L-BFGS
    // iterations, on the univariate-selected feature set: the reference's
    // 9-point grid and 100 iterations do not fit in a run
    val (lr, lrGrid) = Models.logisticRegression()
    lr.setMaxIter(10)
    val grid = lrGrid.filter(pm => pm(lr.elasticNetParam) == 0.0 && pm(lr.regParam) == 0.01)
    val lrRes = stage("step", "ml.fit.lr", "ml.fit") {
      tr.count("fits", grid.length + 1)
      TrainJob.run(clean, sel.uniCat, sel.uniNum, lr, Some(grid))
    }
    val (train, test) = TrainJob.split(clean.withColumnRenamed("Delay_Status", "label"))
    val (dt, _) = Models.decisionTree()
    val dtModel = stage("step", "ml.fit.dt", "ml.fit") {
      tr.count("fits", 1)
      Features.pipelineCreator(sel.uniCat, sel.uniNum, dt).fit(train)
    }
    val dtM = stage("step", "ml.eval", "ml.eval")(Evaluate.metrics(dtModel.transform(test)))
    aucs = (lrRes.metrics.areaRoc, dtM.areaRoc)
    // the viz notebooks' inputs, written as the `viz` CLI job writes them
    vizQueries.foreach { case (name, f) =>
      stage("write", s"viz.$name", "viz.query")(
        Sinks.csv(f(viz), c.out.resolve(s"viz/$name").toString, singleFile = true))
    }
    viz.unpersist(); clean.unpersist()
  }

  def dumpChecks(c: Ctx): Unit =
    Json.write(c.out.resolve("check/auc.json"), Json.of(Map("lr" -> aucs._1, "dt" -> aucs._2)))

  def counters: Map[String, Double] = Map("auc" -> aucs._1, "dt_auc" -> aucs._2)
}

object Star {
  /** A fixed subset of the oracle-gated q* entries: a warm pass over all 90
    * takes ~53 s on a 4-core box, more than a run can spend. The subset
    * keeps scans, filters, joins, windows, JSON, the AsOfJoin and RangeBin
    * plans, the topk_by heap and the bloom join. */
  val Queries: Seq[String] = Seq(
    "q1_filter_project", "q12_join", "q18_window_running", "q23_json",
    "q42_asof_native", "q43_range_join_binned", "q44_topk_heap", "q73_bloom_join")
}

final class Star(dir: String, seed: Long, w: Workload) {
  val names: Seq[String] = new scala.util.Random(seed).shuffle(Star.Queries)
  private val outputs = new Outputs("queries")

  private def plannedByGraft(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find(_.getClass.getName.startsWith("graft.plans.")).isDefined

  def round(c: Ctx): Boolean = {
    val queries = graft.SparkEntry.queries
    names.foreach { q =>
      val (df, rows) = w.step(q)(c.time("query", q)(
        c.query("queries", queries(q)(c.spark, dir))(Force.collect)))
      if (c.tr.enabled && plannedByGraft(df)) c.tr.spans.last.extra("plans") = 1.0
      outputs.keep(q, df, rows)
    }
    true
  }

  def dumpChecks(c: Ctx): Unit = {
    outputs.dump(c)
    val oracle = graft.SparkEntry.oracleSql
    Json.write(c.out.resolve("check/queries_oracle_sql.json"),
      Json.of(names.map(q => q -> oracle(q)).toMap))
  }
}

final class Corpus(dir: String, w: Workload) {
  private val outputs = new Outputs("corpus")

  /** (span module, SparkEntry query), in pipeline order. Dedup clusters
    * and their apply run inside the curate job (its `c_deduped` stage), so
    * d8/d9 are not issued on their own; exact kNN (s1) stands in for the
    * APSS joins d11/d15, which take 4-6 s cold each. */
  private val steps: Seq[(String, String)] = Seq(
    "llm.text" -> "t1_token_stats",
    "llm.dedup" -> "d1_exact_dedup",
    "llm.dedup" -> "d2_minhash_lsh",
    "llm.dedup" -> "d3_jaccard_verify",
    "llm.similarity" -> "s1_knn_brute",
    "llm.curation" -> "c1_curate")

  def pass(c: Ctx): Unit = {
    val queries = graft.SparkEntry.queries
    val tr = c.tr
    steps.foreach { case (module, q) =>
      val (df, rows) = w.step(q)(c.time("step", q)(
        c.query(module, queries(q)(c.spark, dir))(Force.collect)))
      if (tr.enabled && q == "d2_minhash_lsh") tr.spans.last.extra("dedup.candidates") = rows.length
      if (tr.enabled && q == "d3_jaccard_verify") tr.spans.last.extra("dedup.verified") = rows.length
      outputs.keep(q, df, rows)
    }
    // the IVF index only: the PQ build fits 16 sub-space KMeans models and
    // alone takes longer than a run can spend
    val idx = c.out.resolve("index_ivf")
    w.step("index.build")(c.time("step", "index.build")(tr.span("index.build")(
      graft.index.Indexes.build(c.spark, "ivf", dir, idx.toString))))
    if (tr.enabled) tr.spans.last.extra("index.bytes") = Workload.treeBytes(idx).toDouble
    val (df, rows) = w.step("index.search")(c.time("step", "index.search")(tr.span("index.search") {
      val d = graft.llm.Similarity.knnIvfFromIndex(c.spark, idx.toString)
      (d, Force.collect(d))
    }))
    outputs.keep("ann_ivf", df, rows)
    w.step("cli.curate")(c.time("step", "cli.curate")(tr.span("cli.curate")(
      graft.cli.Main.run(c.spark, Seq("curate", dir, c.out.resolve("curate").toString)))))
  }

  def dumpChecks(c: Ctx): Unit = {
    outputs.dump(c)
    val oracle = graft.SparkEntry.oracleSql
    Json.write(c.out.resolve("check/corpus_oracle_sql.json"),
      Json.of(steps.map(_._2).filter(oracle.contains).map(q => q -> oracle(q)).toMap))
  }
}

/** A change stream applied through IngestUpsert and IngestScd2, one batch per
  * round, with point reads of the latest values and as-of reads after each
  * batch. */
final class Cdc(dir: String, seed: Long, w: Workload) {
  /** Bucket count of both state tables: a batch rewrites every bucket its
    * keys hash into, so with 4 buckets each batch rewrites the whole state
    * (12k keys, 30x a batch). */
  val Buckets = 4
  private val batchFiles: IndexedSeq[String] = {
    val s = Files.list(Paths.get(dir, "batches"))
    try s.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toIndexedSeq.sorted
    finally s.close()
  }
  /** Per batch: read groups of (as-of time in epoch µs, keys). */
  private val readPlan: IndexedSeq[Seq[(Long, Seq[Long])]] =
    Files.readAllLines(Paths.get(dir, "batches", "reads.txt")).asScala.toIndexedSeq.map { l =>
      l.trim.split(" ").toSeq.grouped(2).map { case Seq(t, ks) =>
        (t.toLong, ks.split(",").toSeq.map(_.toLong))
      }.toSeq
    }
  private var applied = 0
  private val tracedBatches = mutable.ArrayBuffer.empty[Int]
  private val reads = mutable.ArrayBuffer.empty[String]
  private var upsertPath, scd2Path: String = _

  /** The state tables are bootstrapped from the initial state once per seed
    * and copied into each run, so every run starts from the same state. */
  def prepare(c: Ctx): Unit = {
    val pristine = Paths.get(dir, "state_tables")
    if (!Files.exists(pristine.resolve("_done"))) {
      Workload.deleteTree(pristine)
      val state = c.spark.read.parquet(s"$dir/state.parquet")
      graft.streaming.IngestUpsert.processBatch(state, pristine.resolve("upsert").toString,
        Seq("k"), "ver", Buckets)
      graft.streaming.IngestScd2.processBatch(state, pristine.resolve("scd2").toString,
        Seq("k"), "ts", Buckets)
      Files.createFile(pristine.resolve("_done"))
    }
    Workload.deleteTree(c.out.resolve("tables"))
    Workload.copyTree(pristine, c.out.resolve("tables"))
    upsertPath = c.out.resolve("tables/upsert").toString
    scd2Path = c.out.resolve("tables/scd2").toString
  }

  def round(c: Ctx): Boolean = {
    if (applied >= batchFiles.size) return false
    val b = applied
    val tr = c.tr
    // the batch file is read by the apply itself, inside its timing
    w.step(s"apply[$b]")(c.time("write", "apply") {
      val batch = c.spark.read.parquet(batchFiles(b))
      tr.span("streaming.upsert")(graft.streaming.IngestUpsert.processBatch(
        batch.drop("late"), upsertPath, Seq("k"), "ver", Buckets))
      tr.span("streaming.scd2")(graft.streaming.IngestScd2.processBatch(
        batch.filter(!col("late")).drop("late"), scd2Path, Seq("k"), "ts", Buckets))
    })
    applied += 1
    if (tr.enabled) {
      tr.spans.takeRight(2).foreach(_.extra("batches") = 1.0)
      tr.spans.last.extra("change_bytes") = Files.size(Paths.get(batchFiles(b))).toDouble
      tracedBatches += b
    }
    // each read group: the latest values of its keys, then their values as
    // of the group's time
    readPlan(b).foreach { case (tMicros, keys) =>
      val t = new java.sql.Timestamp(Math.floorDiv(tMicros, 1000L))
      t.setNanos((Math.floorMod(tMicros, 1000000L) * 1000L).toInt)
      def read(kind: String, table: DataFrame, extra: String)(filter: DataFrame => DataFrame) = {
        val rows = w.step(s"$kind[$b]")(c.time("query", kind)(
          tr.span("io.lookup")(Force.collect(filter(table)))))
        reads += s"""{"kind":"$kind","after":$b,"keys":${Json.of(keys)}$extra,""" +
          s""""rows":${Json.rows(table.schema, rows)}}"""
      }
      read("point", graft.streaming.IngestUpsert.readTable(c.spark, upsertPath), "")(
        _.filter(col("k").isin(keys: _*)))
      read("asof", graft.streaming.IngestScd2.readTable(c.spark, scd2Path), s""","t":$tMicros""")(
        _.filter(col("k").isin(keys: _*) && col("valid_from") <= lit(t) &&
          (col("valid_to").isNull || col("valid_to") > lit(t))))
    }
    true
  }

  def dumpChecks(c: Ctx): Unit =
    Json.write(c.out.resolve("check/cdc.json"),
      s"""{"applied":$applied,"upsert":${Json.str(upsertPath)},"scd2":${Json.str(scd2Path)},""" +
        s""""reads":[${reads.mkString(",\n")}]}""")

  def counters(c: Ctx): Map[String, Double] = {
    val batchRows = batchFiles.take(applied).map(f => c.spark.read.parquet(f).count()).sum
    val liveRows = graft.streaming.IngestUpsert.readTable(c.spark, upsertPath).count()
    val statePath = Paths.get(dir, "state.parquet")
    val bytesPerRow = Files.size(statePath).toDouble /
      c.spark.read.parquet(statePath.toString).count()
    val touched = tracedBatches.map(b => c.spark.read.parquet(batchFiles(b))
      .select(graft.streaming.IngestUpsert.bucketOf(Seq("k"), Buckets)).distinct().count())
    Map("applied_batches" -> applied.toDouble, "applied_change_rows" -> batchRows.toDouble,
      "space_amp" -> Workload.treeBytes(Paths.get(upsertPath)) / (liveRows * bytesPerRow),
      "buckets_touched" -> (if (touched.isEmpty) 0.0 else touched.sum.toDouble / touched.size))
  }
}
