package perfbench

import graft.CrawlConfig
import graft.functions.{SeenSketch, gf, sketch}
import graft.operators.Crawler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * One admission and dispatch round per op: `Crawler.admit` →
 * `Crawler.assignSeq` → `Crawler.dispatchSelectAbs`, each materialized.
 *
 * Candidates are raw hrefs (absolute, fragment-polluted, scheme-relative
 * and root-relative) over a page-id space with a 30%-hot host. Half of the
 * id space is already seen; the seen set is folded and its Bloom sketch
 * built in set-up, as `Crawler.run` keeps them between rounds. The seed
 * salts every hash, so it picks the ids, hosts and href forms.
 */
final class FrontierWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val nCand: Long = if (tiny) 20000L else 100000L
  val nSeen: Long = nCand / 2
  val nHosts: Int = (nCand / 400).toInt
  val remaining = 500L
  val cfg = CrawlConfig(maxPagesPerDomain = 2000)
  private def salt(k: Int): Column = lit(seed * 16 + k)


  private def hostIdx(id: Column): Column =
    when(pmod(xxhash64(id, salt(1)), lit(100)) < 30, lit(0L))
      .otherwise(pmod(xxhash64(id, salt(2)), lit(nHosts.toLong)))
  private def hostName(h: Column): Column = concat(lit("h-"), h, lit(".bench.test"))
  private def urlOf(h: Column, id: Column): Column =
    concat(lit("https://"), hostName(h), lit("/p/"), id)

  // set-up state; each set-up repetition replaces it
  private var gen: DataFrame = _
  private var seen: DataFrame = _
  private var seenSketch: SeenSketch = _
  private val budget = spark.range(nHosts).select(
    hostName(col("id")).as("host"), lit(remaining).as("remaining"),
    lit(true).as("allow"), lit(0L).as("disp_total"))
  private val hostCounts = spark.range(0).select(lit("x").as("host"), lit(0L).as("cnt"))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist the RDDs persisted while `body` ran, and only those. */
  private def releasing[A](body: => A): A = {
    val before = persisted
    try body
    finally (persisted -- before).foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
  }

  def setup(rep: Int): Unit = {
    val old = persisted
    gen = spark.range(nCand).select(
      col("id").as("ord1"),
      pmod(xxhash64(col("id"), salt(3)), lit(nCand)).as("pid"),
      pmod(xxhash64(col("id"), salt(4)), lit(nCand)).as("basepid"),
      pmod(xxhash64(col("id"), salt(5)), lit(4L)).as("form"))
      .select(col("ord1"), col("pid"), col("form"),
        hostIdx(col("pid")).as("pid_host"), hostIdx(col("basepid")).as("base_host"),
        col("basepid"))
      .select(col("ord1"), col("pid"), col("form"), col("pid_host"), col("base_host"),
        urlOf(col("base_host"), col("basepid")).as("base"),
        when(col("form") === 0, urlOf(col("pid_host"), col("pid")))
          .when(col("form") === 1, concat(urlOf(col("pid_host"), col("pid")), lit("#frag")))
          .when(col("form") === 2, concat(lit("//"), hostName(col("pid_host")),
            lit("/p/"), col("pid")))
          .otherwise(concat(lit("/p/"), col("pid"))).as("href"))
      .localCheckpoint(true)
    seen = tracer.span("crawler.fold_seen") {
      Crawler.foldSeen(spark.range(nSeen).select(urlOf(hostIdx(col("id")), col("id")).as("url")))
    }
    seenSketch = tracer.span("seen_sketch.build") {
      SeenSketch.build(seen, "url", "bloom", math.max(nSeen * 2, 1024))
    }
    // drop the previous repetition's inputs
    old.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
  }

  def warm(traced: Boolean): Unit = (0 until 5).foreach(_ => round())

  private def candidates: DataFrame =
    gen.select(gf.url_canonicalize(col("base"), col("href")).as("url"),
        col("ord1"), lit(0).as("ord2"))
      .where(col("url").isNotNull)
      .select(col("url"), gf.url_policy_host(col("url")).as("host"),
        lit(1).as("depth"), lit(0).as("retry"), col("ord1"), col("ord2"))

  /** one round; returns (admitted, dispatched) */
  private def round(): (Long, Long) = releasing {
    val admitted = tracer.span("crawler.admit") {
      Crawler.admit(spark, candidates, seen, hostCounts, cfg, Some(seenSketch))
        .select("url", "host", "depth", "retry", "ord1", "ord2", "host_rank")
        .localCheckpoint(true)
    }
    val entries = tracer.span("crawler.seq_assign") {
      Crawler.assignSeq(spark, admitted, Seq(col("ord1"), col("ord2")), 0L)
        .select("url", "host", "depth", "retry", "seq", "host_rank")
        .localCheckpoint(true)
    }
    val dispatched = tracer.span("crawler.dispatch") {
      Crawler.dispatchSelectAbs(entries, budget, remaining, Some(nHosts.toLong),
        cfg.broadcastRowLimit).localCheckpoint(true)
    }
    (admitted.count(), dispatched.count())
  }

  def op(i: Int): (String, Long, Any) = ("round", nCand, round())

  override def companion: Option[Workload] = Some(new CurateWorkload(ctx))

  /** Admitted and dispatched counts recounted on the driver from the
   * generator's ids, by the admission rules in order: first occurrence
   * in the batch, then not seen, then the per-host cap; dispatch takes
   * `remaining` URLs per host. */
  private lazy val expected: (Long, Long) = {
    val rows = gen.select("ord1", "pid", "form", "pid_host", "base_host")
      .orderBy("ord1").collect()
    val inBatch = mutable.HashSet.empty[(Long, Long)]
    val perHost = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    rows.foreach { r =>
      val pid = r.getLong(1)
      val pidHost = r.getLong(3)
      val host = if (r.getLong(2) == 3L) r.getLong(4) else pidHost
      val isSeen = pid < nSeen && host == pidHost
      if (inBatch.add((host, pid)) && !isSeen) perHost(host) += 1
    }
    val admitted = perHost.values.map(math.min(_, cfg.maxPagesPerDomain.toLong))
    (admitted.sum, admitted.map(math.min(_, remaining)).sum)
  }

  def verify(ops: Seq[Op]): Seq[(Int, String)] = ops.flatMap { o =>
    val got = o.output.get.asInstanceOf[(Long, Long)]
    if (got == expected) None
    else Some(o.index -> s"(admitted, dispatched) = $got, recount $expected")
  }

  def named(ops: Seq[Op]): Seq[Metric] = Seq(Metric("frontier_urls_per_s",
    ops.map(_.units).sum / ops.map(_.seconds).sum, "URLs/s"))

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val spans = tracer.spans
    def med(name: String)(f: Span => Double) = Stats.median(spans.filter(_.name == name).map(f))
    val (adm, disp) = expected
    val canon = Projection.nsPerRow(gen.select("base", "href"), 10)(
      gf.url_canonicalize(col("base"), col("href")))
    val bc = spark.sparkContext.broadcast(seenSketch)
    val probe = Projection.nsPerRow(candidates.select("url"), 10)(
      sketch.sketch_contains(col("url"), bc))
    Map(
      "crawler.admit.s" -> med("crawler.admit")(_.seconds),
      "crawler.admit.busy_s" -> med("crawler.admit")(_.busyMs / 1e3),
      "crawler.admit.shuffle_mb" -> med("crawler.admit")(_.shuffleMb),
      "crawler.admit.admitted_frac" -> adm.toDouble / nCand,
      "crawler.seq_assign.s" -> med("crawler.seq_assign")(_.seconds),
      "crawler.dispatch.s" -> med("crawler.dispatch")(_.seconds),
      "crawler.dispatch.shuffle_mb" -> med("crawler.dispatch")(_.shuffleMb),
      "crawler.dispatch.dispatched_frac" -> disp.toDouble / adm,
      "crawler.fold_seen.s" -> med("crawler.fold_seen")(_.seconds),
      "seen_sketch.build.s" -> med("seen_sketch.build")(_.seconds),
      "functions.url_canonicalize.ns_per_row" -> canon,
      "functions.sketch_probe.ns_per_row" -> probe)
  }
}
