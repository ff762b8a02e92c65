package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Everything a workload needs: the session, its inputs' seed and size,
 * a private work directory and the tracer. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, work: Path,
                     dataDir: Path, tracer: Tracer) {
  def cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = work.resolve(name).toString
}

/** One timed operation as the loop saw it. `output` is what the workload
 * checks after the timed region; a thrown operation has none. */
final case class Op(index: Int, kind: String, units: Long, seconds: Double,
                    traced: Boolean, output: Option[Any])

final case class Metric(name: String, value: Double, unit: String)

object Projection {
  import org.apache.spark.sql.{Column, DataFrame}

  /** Wall time per row, in ns, of evaluating `expr` over `input` copied
   * `times` times and held in memory, so that per-job overhead is small
   * next to the rows; the median of three passes. */
  def nsPerRow(input: DataFrame, times: Int)(expr: Column): Double = {
    val rows = input.crossJoin(input.sparkSession.range(times)).drop("id")
      .localCheckpoint(true)
    val n = rows.count()
    try Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      rows.select(expr).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / n
    }) finally rows.unpersist(true)
  }
}

trait Workload {
  /** One repetition of set-up: build and materialize the inputs from the
   * seed. Runs three times; the last repetition's inputs are used. */
  def setup(rep: Int): Unit
  /** Run the timed path untimed before the loop; `traced` tells whether
   * this is a traced run. */
  def warm(traced: Boolean): Unit
  /** one timed operation: (kind, units of work, output to check) */
  def op(i: Int): (String, Long, Any)
  /** whether the loop may stop before op i */
  def boundary(i: Int): Boolean = true
  /** ops the loop runs at least, however long they take */
  def minOps: Int = 1
  /** ops with an odd group run traced in a traced run */
  def group(i: Int): Int = i
  /** Check each op's output; returns (op index, reason) per wrong output.
   * Runs after the timed region. */
  def verify(ops: Seq[Op]): Seq[(Int, String)]
  /** the latency of the workload's operation (round, request, query) */
  def latencies(ops: Seq[Op]): Seq[Double] = ops.map(_.seconds)
  /** the workload's own figures under the names the docs use */
  def named(ops: Seq[Op]): Seq[Metric]
  /** per-layer figures from the traced ops and spans, by the names
   * [[Layers]] lists for this workload */
  def layers(ops: Seq[Op]): Map[String, Double]
  /** A second workload that only the traced run drives, after this one,
   * to measure layers no untraced workload times. */
  def companion: Option[Workload] = None
}

/** Every per-layer metric with its unit, by the workload that measures it.
 * A traced run prints all of them; a layer its workload does not call
 * reads 0. */
object Layers {
  val frontier: Seq[(String, String)] = Seq(
    "crawler.admit.s" -> "s", "crawler.admit.busy_s" -> "s",
    "crawler.admit.shuffle_mb" -> "MB", "crawler.admit.admitted_frac" -> "ratio",
    "crawler.seq_assign.s" -> "s", "crawler.dispatch.s" -> "s",
    "crawler.dispatch.shuffle_mb" -> "MB", "crawler.dispatch.dispatched_frac" -> "ratio",
    "crawler.fold_seen.s" -> "s", "seen_sketch.build.s" -> "s",
    "functions.url_canonicalize.ns_per_row" -> "ns/row",
    "functions.sketch_probe.ns_per_row" -> "ns/row")
  val crawl: Seq[(String, String)] = Seq(
    "crawler.round.s" -> "s", "crawler.round.busy_frac" -> "ratio",
    "crawler.round.jobs" -> "count", "crawler.round.tasks" -> "count",
    "crawler.round.shuffle_mb" -> "MB", "crawler.round.spill_mb" -> "MB",
    "crawler.round.task_skew" -> "ratio", "crawler.round.dispatched" -> "count",
    "crawler.round.admitted" -> "count", "crawler.round.coverage" -> "ratio",
    "snapshot.round.written_mb" -> "MB", "snapshot.round.files" -> "count",
    "store_bytes_per_page" -> "B/page",
    "functions.extract_spans.ns_per_row" -> "ns/row",
    "functions.tokenize.ns_per_row" -> "ns/row")
  val serve: Seq[(String, String)] = Seq(
    "crawler.search_store.ms_p50" -> "ms", "crawler.status_summary.ms_p50" -> "ms",
    "crawler.check_url.ms_p50" -> "ms", "crawler.get_page.ms_p50" -> "ms",
    "search_service.submit.ms_p50" -> "ms", "search_service.process.ms_p50" -> "ms",
    "crawler.search_store.rows_read_per_result" -> "rows/result",
    "snapshot.files_per_request" -> "files/request", "request_ms_tail" -> "ms")
  val curate: Seq[(String, String)] = Seq(
    "suite_s" -> "s", "functions.minhash_band_hashes.ns_per_row" -> "ns/row") ++
    graft.SparkEntry.queries.keys.toSeq.sorted.map(q => s"sparkentry.$q.s" -> "s")
  /** the traced run of crawl also drives serve, that of frontier curate */
  val byWorkload: Map[String, Seq[(String, String)]] = Map(
    "crawl" -> (crawl ++ serve), "frontier" -> (frontier ++ curate))
  val all: Seq[(String, String)] =
    ("trace.overhead_frac" -> "ratio") +: Seq(frontier, crawl, serve, curate).flatten
}

object Main {

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** collection time of all collectors so far */
  private def gcSeconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(work: Path): SparkSession = {
    // The session CrawlMain builds (Spark defaults plus UTC), run in-process
    // at local[all cores], with one change for every workload alike: two
    // shuffle partitions per core, as the test session uses, instead of
    // Spark's fixed 200, which at benchmark sizes turns every exchange into
    // per-task overhead. Scratch space stays inside the work directory.
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Closed loop, one client: the next op starts when the last returns.
   * Runs for `seconds`, then to the workload's next boundary; traced, it
   * also runs until it has untraced ops on both sides of a traced one, so
   * warm-up drift cancels out of the tracing overhead. Returns the ops and
   * the number that threw. */
  private def loop(w: Workload, tracer: Tracer, seconds: Double): (Seq[Op], Int) = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var thrown = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def bothWays = !tracer.enabled ||
      (ops.exists(_.traced) && ops.lastOption.exists(!_.traced) && ops.count(!_.traced) >= 2)
    var i = 0
    while (System.nanoTime() < deadline || !w.boundary(i) || !bothWays || i < w.minOps) {
      val traced = tracer.enabled && w.group(i) % 2 == 1
      tracer.active = traced
      val t0 = System.nanoTime()
      try {
        val (kind, units, out) = w.op(i)
        ops += Op(i, kind, units, (System.nanoTime() - t0) / 1e9, traced, Some(out))
      } catch {
        case e: Throwable =>
          thrown += 1
          ops += Op(i, "thrown", 0, 0.0, traced, None)
          System.err.println(s"[perfbench] op $i threw: $e")
      }
      tracer.active = true
      i += 1
    }
    (ops.toSeq, thrown)
  }

  /** ops whose output is wrong or that threw */
  private def failures(w: Workload, ops: Seq[Op], thrown: Int): Int = {
    val wrong = w.verify(ops.filter(_.output.isDefined))
    wrong.foreach { case (k, why) => System.err.println(s"[perfbench] op $k wrong: $why") }
    thrown + wrong.map(_._1).distinct.size
  }

  private def opsLine(label: String, ops: Seq[Op]): String = s"[ops] $label " +
    ops.map(o => f"${o.kind}:${o.seconds}%.3f${if (o.traced) "*" else ""}").mkString(" ")

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val tiny = arg(args, "--scale").contains("tiny")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val dataDir = Paths.get(arg(args, "--data").getOrElse("perfbench/data"))
    val tracePath = arg(args, "--trace-out").map(Paths.get(_))
    Files.createDirectories(work)

    val (spark, sessionS) = timed(session(work))
    val runId = s"$name-seed$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark, runId, trace)
    val ctx = Ctx(spark, seed, tiny, work, dataDir, tracer)
    val w: Workload = name match {
      case "crawl" => new CrawlWorkload(ctx)
      case "frontier" => new FrontierWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val setupReps = (0 until 3).map(r => timed(w.setup(r))._2)
    val setupS = sessionS + Stats.median(setupReps)
    val warmS = timed(tracer.quiet(w.warm(trace)))._2
    val gcBefore = gcSeconds
    val (ops, thrown) = loop(w, tracer, seconds)
    val gcS = gcSeconds - gcBefore
    // heap still referenced once the timed work is done
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
    tracer.fold()
    val (checked, verifyS) = timed(failures(w, ops, thrown))
    var failed = checked
    var attempted = ops.size
    println(s"[perfbench] workload=$name seed=$seed trace=${if (trace) 1 else 0} " +
      s"cores=${ctx.cores} ops=${ops.size} setup_reps_s=" +
      setupReps.map(s => f"$s%.3f").mkString("/") + f" session_s=$sessionS%.3f warm_s=$warmS%.3f verify_s=$verifyS%.3f gc_s=$gcS%.3f")
    println(opsLine(name, ops))

    // end-to-end figures come from untraced ops only
    val plain = ops.filter(o => o.output.isDefined && !o.traced)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("throughput_per_s", plain.map(_.units).sum / plain.map(_.seconds).sum, "1/s"),
      Metric("op_ms_p50", Stats.median(w.latencies(plain)) * 1e3, "ms"))
    val named = w.named(plain) :+ Metric("heap_retained_mb", heapMb, "MB")
    val layers = if (!trace) Nil else {
      val done = ops.filter(_.output.isDefined)
      var got = w.layers(done) + ("trace.overhead_frac" -> overhead(done))
      // the traced run also measures the read side this workload feeds
      w.companion.foreach { c =>
        c.setup(0)
        tracer.quiet(c.warm(trace))
        val (cops, cthrown) = loop(c, tracer, seconds)
        tracer.fold()
        failed += failures(c, cops, cthrown)
        attempted += cops.size
        println(opsLine("companion", cops))
        c.named(cops.filter(o => o.output.isDefined && !o.traced))
          .foreach(m => println(s"[metric] ${m.name} = ${m.value} ${m.unit}"))
        got ++= c.layers(cops.filter(_.output.isDefined))
      }
      tracePath.foreach(tracer.write)
      val missing = Layers.byWorkload(name).map(_._1).filterNot(got.contains)
      require(missing.isEmpty, s"layers not measured: ${missing.mkString(", ")}")
      Layers.all.map { case (n, unit) => Metric(n, got.getOrElse(n, 0.0), unit) }
    }
    val failedFrac = Metric("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio")
    (e2e ++ named ++ layers :+ failedFrac)
      .foreach(m => println(s"[metric] ${m.name} = ${m.value} ${m.unit}"))
    val shown = if (trace) layers else e2e
    shown.foreach(m => require(!m.value.isNaN && !m.value.isInfinite,
      s"metric ${m.name} is not a finite number"))
    val metrics = shown.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${m.value}, \"unit\": ${Json.str(m.unit)}}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    spark.stop()
  }

  /** Traced-op cost over untraced-op cost, minus 1, over the op kinds that
   * ran both ways: sum over kinds of n·median(traced) ÷ sum of
   * n·median(untraced). */
  private def overhead(ops: Seq[Op]): Double = {
    val byKind = ops.groupBy(_.kind).values.filter(k =>
      k.exists(_.traced) && k.exists(!_.traced))
    if (byKind.isEmpty) sys.error("no op kind ran both traced and untraced")
    def cost(traced: Boolean) = byKind.toSeq.map { k =>
      k.size * Stats.median(k.filter(_.traced == traced).map(_.seconds))
    }.sum
    cost(true) / cost(false) - 1
  }
}
