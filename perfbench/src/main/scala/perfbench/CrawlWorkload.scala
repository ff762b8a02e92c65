package perfbench

import graft.{CrawlConfig, Doc}
import graft.functions.gf
import graft.operators.Crawler
import graft.oracle.CrawlOracle
import graft.plans.SnapshotTable
import graft.sources.CorpusGen
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What one crawl left behind: its root, summary, per-round marks and,
 * when traced, the bytes and files under the root at each mark. */
final case class CrawlRun(root: String, summary: Crawler.CrawlSummary,
                          marks: Seq[Long], rootSizes: Seq[(Long, Long)])

/** A multi-round crawl over a stored corpus, shared by the crawl and
 * serve workloads. The seed picks which third of the corpus seeds it. */
final class CrawlSetup(ctx: Ctx, val nDocs: Long, val maxRounds: Int) {
  import ctx._
  import spark.implicits._

  val cfg = CrawlConfig(maxDepth = 12, maxPagesPerDomain = 10000000,
    respectRobots = true, defaultCrawlDelayS = 0.001, roundSeconds = 10.0)
  val seedUrls: Seq[String] = new scala.util.Random(seed)
    .shuffle((0L until nDocs).toVector).take((nDocs / 3).toInt)
    .map(i => CorpusGen.urlOf(i, nDocs))
  private val policyRows =
    CorpusGen.policies(nDocs, cfg.defaultCrawlDelayS, cfg.maxPagesPerDomain)
  private var runs = 0
  var docs: Dataset[Doc] = _

  /** Generate the corpus and store it as parquet; the crawl reads the
   * stored table, as it would a real corpus. */
  def storeCorpus(rep: Int): Unit = {
    val dir = ctx.dir(s"corpus-$rep")
    CorpusGen.docs(spark, nDocs).write.mode("overwrite").parquet(dir)
    docs = spark.read.parquet(dir).as[Doc]
  }

  /** A fresh crawl of `rounds` rounds. `Crawler.run` polls
   * `stopRequested` once at every round boundary, so the entry time and
   * the poll times are the round marks; traced, each round also becomes a
   * span, and the bytes and files under the root are taken at each mark. */
  def crawl(rounds: Int = maxRounds): CrawlRun = {
    val root = ctx.dir(s"crawl-$runs")
    runs += 1
    val marks = mutable.ArrayBuffer.empty[Long]
    val sizes = mutable.ArrayBuffer.empty[(Long, Long)]
    var round: Option[Span] = None
    val traced = tracer.on
    // Round 0 runs from entry, so it includes admitting the seeds; the
    // first poll precedes its loop body, and every later poll ends one
    // round and starts the next.
    var polls = 0
    def mark(): Boolean = {
      polls += 1
      if (polls > 1) {
        marks += System.nanoTime()
        if (traced) {
          round.foreach(tracer.close)
          sizes += CrawlSetup.du(Paths.get(root))
          round = Some(tracer.open("crawler.round"))
        }
      }
      false
    }
    val summary = tracer.span("crawler.run") {
      marks += System.nanoTime()
      if (traced) {
        sizes += CrawlSetup.du(Paths.get(root))
        round = Some(tracer.open("crawler.round"))
      }
      try Crawler.run(spark, docs, seedUrls, policyRows.toDS(), cfg, root,
        maxRounds = rounds, stopRequested = () => mark())
      finally round.foreach { s => s.name = "crawler.run.finish"; tracer.close(s) }
    }
    CrawlRun(root, summary, marks.toSeq, sizes.toSeq)
  }

  /** The sequential oracle's result for this corpus, seeds and rounds. */
  lazy val oracle = {
    val docsMap = (0L until nDocs).map(i => CorpusGen.docOf(i, nDocs))
      .map(d => d.doc_id -> d).toMap
    new CrawlOracle(docsMap, policyRows.map(p => p.host -> p).toMap, cfg)
      .run(seedUrls, maxRounds = maxRounds)
  }

  /** Differences between a crawl's dispatch schedule and seen set and the
   * oracle's; empty when they are equal. */
  def mismatch(run: CrawlRun): Option[String] = {
    val last = run.summary.rounds - 1
    val snap = new SnapshotTable(run.root)
    val got = snap.loadAppended(spark, "fetch_log", last)
      .orderBy(col("round"), col("seq")).select("round", "url", "status")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    val want = oracle.schedule.map(l => (l.round, l.url, l.status))
    lazy val seen = snap.loadHybrid(spark, "seen", last).collect().map(_.getString(0)).toSet
    if (got != want) {
      val at = got.zip(want).indexWhere { case (g, w) => g != w }
      Some(s"schedule: ${got.size} rows vs oracle ${want.size}, first difference at $at")
    } else if (seen != oracle.seen.toSet)
      Some(s"seen set: ${seen.size} urls vs oracle ${oracle.seen.size}")
    else None
  }
}

object CrawlSetup {
  /** (bytes, files) under a directory */
  def du(dir: Path): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      s.filter(Files.isRegularFile(_)).toArray.map(p => Files.size(p.asInstanceOf[Path]))
        .foldLeft((0L, 0L)) { case ((b, n), sz) => (b + sz, n + 1) }
    }
}

/**
 * Multi-round `Crawler.run` over a `CorpusGen` corpus stored as parquet.
 * Each op is a fresh crawl of a fixed number of rounds; the op's latency
 * figure is the round wall between round marks.
 */
final class CrawlWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val c = new CrawlSetup(ctx, if (tiny) 1500L else 3000L, maxRounds = 2)

  def setup(rep: Int): Unit = c.storeCorpus(rep)

  /** None: the timed crawl is the process's first, as a crawl run by
   * CrawlMain is. A traced run first crawls one round, so that its traced
   * and untraced crawls compare warm ones. */
  def warm(traced: Boolean): Unit = if (traced) c.crawl(rounds = 1)

  private var last: CrawlRun = _

  def op(i: Int): (String, Long, Any) = {
    last = c.crawl()
    ("crawl", last.summary.stats.map(_.dispatched).sum, last)
  }

  override def companion: Option[Workload] = Some(new ServeWorkload(ctx, c, () => last))

  private def runOf(o: Op) = o.output.get.asInstanceOf[CrawlRun]
  private def rounds(run: CrawlRun): Seq[Double] =
    run.marks.zip(run.marks.drop(1)).map { case (a, b) => (b - a) / 1e9 }

  override def latencies(ops: Seq[Op]): Seq[Double] = ops.flatMap(o => rounds(runOf(o)))

  def verify(ops: Seq[Op]): Seq[(Int, String)] =
    ops.flatMap(o => c.mismatch(runOf(o)).map(o.index -> _))

  private def bytesPerPage(ops: Seq[Op]): Double = Stats.median(ops.map { o =>
    CrawlSetup.du(Paths.get(runOf(o).root))._1.toDouble / o.units
  })

  def named(ops: Seq[Op]): Seq[Metric] = Seq(
    Metric("crawl_pages_per_s", ops.map(_.units).sum / ops.map(_.seconds).sum, "pages/s"),
    Metric("round_s_p50", Stats.median(latencies(ops)), "s"),
    Metric("store_bytes_per_page", bytesPerPage(ops), "B/page"))

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val spans = tracer.spans
    val roundSpans = spans.filter(_.name == "crawler.round")
    def med(f: Span => Double) = Stats.median(roundSpans.map(f))
    val stats = traced.flatMap(o => runOf(o).summary.stats)
    val growth = traced.flatMap { o =>
      val s = runOf(o).rootSizes
      s.zip(s.drop(1)).map { case (a, b) => (b._1 - a._1, b._2 - a._2) }
    }
    val runWall = spans.filter(_.name == "crawler.run").map(_.seconds).sum
    val raw = c.docs.select("raw")
    Map(
      "crawler.round.s" -> med(_.seconds),
      "crawler.round.busy_frac" -> med(s => s.busyMs / 1e3 / (s.seconds * cores)),
      "crawler.round.jobs" -> med(_.jobs.toDouble),
      "crawler.round.tasks" -> med(_.tasks.toDouble),
      "crawler.round.shuffle_mb" -> med(_.shuffleMb),
      "crawler.round.spill_mb" -> med(_.spillBytes / 1e6),
      "crawler.round.task_skew" -> med(_.taskSkew),
      "crawler.round.dispatched" -> Stats.median(stats.map(_.dispatched.toDouble)),
      "crawler.round.admitted" -> Stats.median(stats.map(_.admitted.toDouble)),
      "crawler.round.coverage" -> roundSpans.map(_.seconds).sum / runWall,
      "snapshot.round.written_mb" -> Stats.median(growth.map(_._1 / 1e6)),
      "snapshot.round.files" -> Stats.median(growth.map(_._2.toDouble)),
      "store_bytes_per_page" -> bytesPerPage(ops.filterNot(_.traced)),
      "functions.extract_spans.ns_per_row" ->
        Projection.nsPerRow(raw, 20)(gf.extract_spans(col("raw"))),
      "functions.tokenize.ns_per_row" -> Projection.nsPerRow(raw, 20)(gf.tokenize(col("raw"))))
  }
}
