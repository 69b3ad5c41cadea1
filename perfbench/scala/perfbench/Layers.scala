package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run, named `<module>.<counter>`. The list
  * is fixed: a module the workload does not load reports 0. */
object Layers {

  val Modules: Seq[String] =
    Seq("io", "etl", "stats", "viz", "ml", "queries", "llm", "index", "cli", "streaming")

  def metrics(ctx: Ctx, w: Workload, setup: Main.Setup)
      : mutable.LinkedHashMap[String, Double] = {
    val spans = ctx.tr.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))
    def self(s: Span): Double = s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum
    /** Span time during which none of its own (or its children's) tasks ran. */
    def driver(s: Span): Double = {
      val iv = (s +: descendants(s)).flatMap(_.taskIntervals)
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      math.max(0.0, s.wallS - covered / 1e3)
    }
    def named(prefix: String): Seq[Span] =
      spans.filter(s => s.name == prefix || s.name.startsWith(prefix + "."))
    /** Spans of a prefix not nested in another span of the same prefix. */
    def top(prefix: String): Seq[Span] = {
      val set = named(prefix).map(_.id).toSet
      named(prefix).filter { s =>
        var p = s.parent; var nested = false
        while (p != 0 && !nested) { nested = set(p); p = byId(p).parent }
        !nested
      }
    }
    def wall(prefix: String) = top(prefix).map(_.wallS).sum
    def sumL(prefix: String)(f: Span => Long) = named(prefix).map(f).sum.toDouble
    def extra(prefix: String, key: String) = named(prefix).map(_.extra.getOrElse(key, 0.0)).sum
    def safeDiv(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("core.session_s") = Main.median(setup.session)
    m("core.table_load_s") = Main.median(setup.tables)
    m("core.cold_setup_s") = setup.cold

    // io: the benchmark's own Sources/lookup calls by span; bytes and files
    // by the write commands and scans wherever the engine issues them
    val lookups = named("io.lookup")
    m("io.read_s") = wall("io.read")
    m("io.read_bytes") = spans.map(_.inputBytes).sum.toDouble
    m("io.write_s") = spans.map(_.extra.getOrElse("write_ns", 0.0)).sum / 1e9
    m("io.write_bytes") = spans.map(_.writeBytes).sum.toDouble
    m("io.files_written") = spans.map(_.filesWritten).sum.toDouble
    m("io.lookup_s") = safeDiv(lookups.map(_.wallS).sum, lookups.size)
    m("io.files_read_per_lookup") = safeDiv(lookups.map(_.filesRead).sum.toDouble, lookups.size)

    Modules.foreach { mod =>
      m(s"$mod.wall_s") = wall(mod)
      m(s"$mod.self_s") = named(mod).map(self).sum
      m(s"$mod.jobs") = sumL(mod)(_.jobs)
    }
    m("stats.driver_s") = top("stats").map(driver).sum

    m("ml.fit_s") = wall("ml.fit")
    m("ml.eval_s") = wall("ml.eval")
    m("ml.fits") = extra("ml", "fits")
    m("ml.tasks") = sumL("ml")(_.tasks)
    m("ml.task_cpu_s") = sumL("ml")(_.cpuNs) / 1e9
    m("ml.driver_s") = top("ml").map(driver).sum
    val counters = w.counters(ctx)
    m("ml.auc") = counters.getOrElse("auc", 0.0)

    m("queries.plan_s") = sumL("queries")(_.planNs) / 1e9
    m("queries.build_s") = wall("queries.build")
    m("queries.build_jobs") = sumL("queries")(_.buildJobs)
    m("queries.driver_s") = top("queries").map(driver).sum
    m("queries.exec_s") = wall("queries.exec")
    m("queries.tasks") = sumL("queries")(_.tasks)
    m("queries.task_cpu_s") = sumL("queries")(_.cpuNs) / 1e9
    m("queries.shuffle_bytes") = sumL("queries")(_.shuffleBytes)
    m("queries.spill_bytes") = sumL("queries")(_.spillBytes)
    val planned = named("queries.exec").filter(_.extra.contains("plans"))
    m("plans.exec_s") = planned.map(_.wallS).sum
    m("plans.shuffle_bytes") = planned.map(_.shuffleBytes).sum.toDouble

    m("llm.text_s") = wall("llm.text")
    m("llm.dedup_s") = wall("llm.dedup")
    m("llm.similarity_s") = wall("llm.similarity")
    m("llm.curation_s") = wall("llm.curation")
    m("llm.build_jobs") = sumL("llm")(_.buildJobs)
    m("llm.driver_s") = top("llm").map(driver).sum
    m("llm.task_cpu_s") = sumL("llm")(_.cpuNs) / 1e9
    m("llm.shuffle_bytes") = sumL("llm")(_.shuffleBytes)
    m("llm.persisted_blocks") = sumL("llm")(_.persistedBlocks)
    m("llm.dedup.candidates") = extra("llm.dedup", "dedup.candidates")
    m("llm.dedup.verified") = extra("llm.dedup", "dedup.verified")

    m("index.build_s") = wall("index.build")
    m("index.search_s") = wall("index.search")
    m("index.bytes") = extra("index.build", "index.bytes")
    m("index.recall_at_k") = 0.0 // measured by the correctness check

    m("cli.curate_s") = wall("cli.curate")
    m("cli.curate_jobs") = sumL("cli.curate")(_.jobs)

    val up = named("streaming.upsert"); val sc = named("streaming.scd2")
    val nBatches = up.size
    m("streaming.upsert_batch_s") = Main.median(up.map(_.wallS))
    m("streaming.scd2_batch_s") = Main.median(sc.map(_.wallS))
    m("streaming.jobs_per_batch") = safeDiv(sumL("streaming")(_.jobs), nBatches)
    m("streaming.buckets_touched") = counters.getOrElse("buckets_touched", 0.0)
    m("streaming.files_written") = safeDiv(sumL("streaming")(_.filesWritten), nBatches)
    m("streaming.write_amp") =
      safeDiv(sumL("streaming")(_.writeBytes), extra("streaming", "change_bytes"))
    m("streaming.space_amp") = counters.getOrElse("space_amp", 0.0)
    m("streaming.changes_per_s") =
      safeDiv(counters.getOrElse("applied_change_rows", 0.0), (up ++ sc).map(_.wallS).sum)
    m.keys.filter(_.endsWith("_batch_s")).foreach(k => if (m(k).isNaN) m(k) = 0.0)

    m ++= (if (w.isInstanceOf[CorpusCdc]) KernelProbe.run(ctx.spark) else KernelProbe.zero)
    m
  }
}

/** Rows per second of the engine's native kernels on a generated frame,
  * measured in the traced corpus run only (best of three, warm). */
object KernelProbe {
  val Rows = 100000
  val names = Seq("simhash64", "word_ngrams", "md5_prefix60", "minhash_agg", "topk_by",
    "pq_encode", "vec_dot")
  def zero: Seq[(String, Double)] = names.map(n => s"functions.${n}_rows_per_s" -> 0.0)

  def run(spark: SparkSession): Seq[(String, Double)] = {
    import graft.functions._
    val rnd = new scala.util.Random(7)
    val planes = Array.fill(64 * 64)(rnd.nextGaussian())
    val books = Array.fill(16 * 64 * 4)(rnd.nextGaussian())
    val base = spark.range(Rows).select(
      col("id"),
      transform(sequence(lit(0), lit(63)), i => sin(col("id") + i).cast("double")).as("v"),
      transform(sequence(lit(0), lit(7)), i => concat(lit("w"), ((col("id") + i) % 97).cast("string"))).as("tok"),
      concat(lit("doc "), col("id").cast("string")).as("text"))
      .persist()
    Force.noop(base)
    val minhash = udaf(MinHashAggregator)
    val kernels: Seq[(String, DataFrame)] = Seq(
      "simhash64" -> base.select(VectorFunctions.simHash64(col("v"), planes)),
      "word_ngrams" -> base.select(TextFunctions.wordNgrams(col("tok"), 2)),
      "md5_prefix60" -> base.select(call_function(HashFunctions.fnName, col("text"))),
      "minhash_agg" -> base.groupBy(col("id") % 1000).agg(minhash(xxhash64(col("text")))),
      "topk_by" -> base.groupBy(col("id") % 1000)
        .agg(TopKFunctions.topkBy(col("v")(0), col("id"), lit(5))),
      "pq_encode" -> base.select(VectorFunctions.pqEncode(col("v"), books, 16)),
      "vec_dot" -> base.select(VectorFunctions.vecDot(col("v"), col("v"))))
    val out = kernels.map { case (n, df) =>
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); Force.noop(df); (System.nanoTime() - t0) / 1e9
      }.min
      s"functions.${n}_rows_per_s" -> Rows / best
    }
    base.unpersist()
    out
  }
}
