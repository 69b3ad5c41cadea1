package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in a fresh JVM:
  *  1. set up a session several times (the median is `setup_s`);
  *  2. run the workload's batch job once (`run_s`);
  *  3. drive its closed loop, one client issuing calls one after another:
  *     one unrecorded warm-up round, then rounds for `--seconds` (at least
  *     one);
  *  4. write the figures and the outputs the correctness check reads.
  *
  * {{{
  *   perfbench.Main --workload W --input DIR --out DIR --seconds S --trace 0|1 --seed N --cores C
  * }}}
  */
object Main {

  final case class Args(workload: String, input: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cores: Int)

  /** Session set-ups per run: one cold (timed from JVM start, reported as
    * `core.cold_setup_s`) and two warm ones, whose median is `setup_s`. */
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("input"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1", kv("seed").toLong, kv("cores").toInt)
    val w: Workload = a.workload match {
      case "airline_star" => new AirlineStar(a)
      case "corpus_cdc" => new CorpusCdc(a)
      case other => sys.error(s"unknown workload $other")
    }
    var step = "setup"
    try {
      val (spark, setup) = setupRepeated(a, w)
      val ctx = new Ctx(spark, a, new Tracer(a.trace, s"${a.workload}-${a.seed}"))
      step = "prepare"
      w.prepare(ctx)
      step = "run"
      val loop = run(ctx, w, a)
      step = "check-outputs"
      w.dumpChecks(ctx)
      step = "report"
      report(ctx, w, a, setup, loop)
      spark.stop()
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] FAILED workload=${a.workload} seed=${a.seed} " +
          s"step=$step${w.currentStep.map(s => s" call=$s").getOrElse("")}: $t")
        t.printStackTrace()
        sys.exit(2)
    }
  }

  final case class Setup(total: Seq[Double], session: Seq[Double], tables: Seq[Double],
      cold: Double)

  /** The warm set-ups stop the session and build it again, as a restarted
    * job would. */
  def setupRepeated(a: Args, w: Workload): (SparkSession, Setup) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val total, sess, tabs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var cold = 0.0
    for (i <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.core.Session.local(a.cores)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      w.register(spark)
      val t2 = System.nanoTime()
      if (i == 0) cold = (System.currentTimeMillis() - jvmStartMs) / 1e3
      else { total += (t2 - t0) / 1e9; sess += (t1 - t0) / 1e9; tabs += (t2 - t1) / 1e9 }
    }
    (spark, Setup(total.toSeq, sess.toSeq, tabs.toSeq, cold))
  }

  final case class Loop(passS: Double, tracedRounds: Seq[Double], untracedRounds: Seq[Double])

  /** In a traced run the pass is traced and the loop's measured rounds
    * alternate traced and untraced, which gives an in-run estimate of the
    * tracing overhead. */
  def run(ctx: Ctx, w: Workload, a: Args): Loop = {
    if (a.trace) ctx.tr.attach(ctx.spark)
    val p0 = System.nanoTime()
    val gc0 = Heap.gcS
    w.pass(ctx)
    val passS = (System.nanoTime() - p0) / 1e9 - (Heap.gcS - gc0)
    ctx.recording = false
    ctx.tr.enabled = false
    var more = w.round(ctx, 0)
    ctx.recording = true
    Heap.sample()
    val traced, untraced = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var r = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (more && (r < 2 || elapsed < a.seconds || (a.trace && untraced.isEmpty))) {
      val on = a.trace && r % 2 == 1
      ctx.tr.enabled = on
      val s = System.nanoTime()
      more = w.round(ctx, r)
      (if (on || !a.trace) traced else untraced) += (System.nanoTime() - s) / 1e9
      Heap.sample()
      r += 1
    }
    ctx.tr.enabled = a.trace
    ctx.tr.finish()
    Loop(passS, traced.toSeq, untraced.toSeq)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def report(ctx: Ctx, w: Workload, a: Args, setup: Setup, loop: Loop): Unit = {
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "setup_s" -> setup.total, "cold_setup_s" -> setup.cold,
      "session_s" -> setup.session, "table_load_s" -> setup.tables,
      "run_s" -> loop.passS, "rounds" -> (loop.tracedRounds.size + loop.untracedRounds.size),
      "calls" -> ctx.calls.map { case (k, n, t) => Seq(k, n, t) },
      "peak_live_heap_mb" -> Heap.peakMb, "heap_sample_gc_s" -> Heap.gcS)
    if (a.trace) {
      res("loop_overhead_frac") =
        if (loop.untracedRounds.isEmpty) null
        else median(loop.tracedRounds) / median(loop.untracedRounds) - 1
      res("layers") = Layers.metrics(ctx, w, setup)
      res("spans") = ctx.tr.spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "jobs" -> s.jobs, "tasks" -> s.tasks, "task_cpu_s" -> s.cpuNs / 1e9,
        "shuffle_bytes" -> s.shuffleBytes, "extra" -> s.extra))
    }
    Json.write(Paths.get(a.out, "result.json"), Json.of(res))
  }
}

/** Everything a workload needs: the session, the tracer and the client's
  * record of its calls as (kind, name, seconds); kinds are "step" (a stage
  * of the batch job), "query" (a read returning rows) and "write". */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tr: Tracer) {
  val calls = ArrayBuffer.empty[(String, String, Double)]
  /** Off during the loop's warm-up round. */
  var recording = true

  /** Times one call; after a batch-job step, outside every timing, samples
    * the live heap. */
  def time[T](kind: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (recording) calls += ((kind, name, (System.nanoTime() - t0) / 1e9))
    if (kind == "step") Heap.sample()
    r
  }

  /** A module call that returns a DataFrame, then the action that forces it:
    * two spans, the first marked as construction so its jobs count as
    * build jobs. */
  def query(module: String, build: => DataFrame)(force: DataFrame => Array[Row])
      : (DataFrame, Array[Row]) = {
    val df = tr.span(s"$module.build", building = true)(build)
    val rows = tr.span(s"$module.exec")(force(df))
    (df, rows)
  }

  val out: Path = Paths.get(args.out)
}

object Force {
  /** Full collect: every output column reaches the driver. */
  def collect(df: DataFrame): Array[Row] = df.collect()

  /** Noop write: every output column is computed, nothing is kept. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Largest heap occupancy right after a GC. The GCs are requested at fixed
  * points (after each batch-job step and each loop round), so the figure
  * does not depend on when the collector happens to run. Their time is
  * left out of every timing. */
object Heap {
  private var peakBytes = 0L
  var gcS = 0.0
  def peakMb: Double = peakBytes / 1048576.0

  def sample(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    gcS += (System.nanoTime() - t0) / 1e9
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
}

/** A workload: a batch job run once per run, then a closed loop of rounds. */
trait Workload {
  def register(spark: SparkSession): Unit
  def prepare(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx): Unit
  /** One round of the closed loop; false when the loop has run out of input. */
  def round(ctx: Ctx, n: Int): Boolean
  def dumpChecks(ctx: Ctx): Unit
  /** Figures only the traced run reports (they cost extra jobs). */
  def counters(ctx: Ctx): Map[String, Double] = Map.empty
  @volatile var currentStep: Option[String] = None
  def step[T](name: String)(body: => T): T = { currentStep = Some(name); body }
}

object Workload {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Registers every table of a FIXTURES-style directory that is present. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    graft.core.Tables.all
      .filter(n => Files.exists(Paths.get(dir, s"$n.parquet")))
      .foreach(n => graft.core.Tables.load(spark, dir, n).createOrReplaceTempView(n))
}
