package perfbench

import graft.operators.{Crawler, SearchIndex, SearchService}
import graft.plans.SnapshotTable
import graft.sources.CorpusGen
import org.apache.spark.sql.{DataFrame, Row}

/** One read request as issued, with the rows the client got back. For a
 * SearchService batch, `batch` holds (req_id, query, field) per request. */
final case class Request(kind: String, field: String, query: String, url: String,
                         rows: Seq[Row], batch: Seq[(String, String, String)],
                         files: Option[Int])

/**
 * A seeded mix of reads against a committed crawl root:
 * `Crawler.searchStore` over the content, title and url fields with head
 * and tail terms, `statusSummary`, `checkUrl`, `getPage`, and
 * `SearchService` submit→processPending batches. Request i is a function
 * of the seed and i alone. It reads the root `source` returns, a crawl of
 * `c`; the crawl workload's traced run drives it.
 */
final class ServeWorkload(ctx: Ctx, c: CrawlSetup, source: () => CrawlRun) extends Workload {
  import ctx._

  val k = 10
  val batchSize = 4
  /** enough untraced requests for a tail latency when half run traced */
  override def minOps: Int = 22

  private var run: CrawlRun = _
  private var pages: IndexedSeq[String] = _
  private def root = run.root

  def setup(rep: Int): Unit = {
    run = source()
    pages = new SnapshotTable(root).loadAppended(spark, "pages", run.summary.rounds - 1)
      .select("url").collect().map(_.getString(0)).sorted.toIndexedSeq
  }

  /** one request of every kind */
  def warm(traced: Boolean): Unit = cycle.distinct.zipWithIndex.foreach { case (kind, j) =>
    request(-1 - j, Some(kind))
  }

  private def docNumber(url: String): String = url.substring(url.lastIndexOf('/') + 1)

  private def query(rng: scala.util.Random, field: String): String =
    if (field != "url" && rng.nextBoolean())
      Seq.fill(1 + rng.nextInt(2))(CorpusGen.Words(rng.nextInt(CorpusGen.Words.length)))
        .mkString(" ")
    else docNumber(pages(rng.nextInt(pages.size)))

  private def field(rng: scala.util.Random): String = rng.nextInt(4) match {
    case 0 | 1 => "content"
    case 2 => "title"
    case _ => "url"
  }

  private def fetch(name: String, df: => DataFrame): (Seq[Row], Option[Int]) = {
    val (rows, d) = tracer.span(name) {
      val d = df
      (d.collect().toSeq, d)
    }
    (rows, if (tracer.on) Some(d.inputFiles.length) else None)
  }

  /** The request kinds in the order they repeat: searches are three in
   * seven. An odd cycle puts every kind on both sides of the traced run's
   * traced/untraced alternation. */
  private val cycle = IndexedSeq("search_store", "status_summary", "search_store",
    "check_url", "search_store", "get_page", "search_service")

  private def request(i: Int, kind: Option[String] = None): Request = {
    val rng = new scala.util.Random(seed * 1000003L + i)
    kind.getOrElse(cycle(Math.floorMod(i + seed, cycle.size).toInt)) match {
      case "search_store" =>
        val f = field(rng)
        val q = query(rng, f)
        val (rows, files) = fetch("crawler.search_store", Crawler.searchStore(spark, root, q, f, k))
        Request("search_store", f, q, "", rows, Nil, files)
      case "status_summary" =>
        val (rows, files) = fetch("crawler.status_summary", Crawler.statusSummary(spark, root))
        Request("status_summary", "", "", "", rows, Nil, files)
      case "check_url" =>
        val url = pages(rng.nextInt(pages.size))
        val (rows, files) = fetch("crawler.check_url", Crawler.checkUrl(spark, root, url))
        Request("check_url", "", "", url, rows, Nil, files)
      case "get_page" =>
        val url = pages(rng.nextInt(pages.size))
        val (rows, files) = fetch("crawler.get_page", Crawler.getPage(spark, root, url))
        Request("get_page", "", "", url, rows, Nil, files)
      case _ =>
        val svc = new SearchService(ctx.dir(s"search-service-$i"))
        val batch = (0 until batchSize).map { j =>
          val f = field(rng)
          (s"r$j", query(rng, f), f)
        }
        batch.foreach { case (id, q, f) =>
          tracer.span("search_service.submit")(svc.submit(spark, id, q, f, k))
        }
        tracer.span("search_service.process")(svc.processPending(spark, root))
        Request("search_service", "", "", "", svc.responses(spark).collect().toSeq, batch, None)
    }
  }

  def op(i: Int): (String, Long, Any) = {
    val req = request(i)
    (req.kind, 1L, req)
  }

  private def reqOf(o: Op) = o.output.get.asInstanceOf[Request]

  private lazy val postings = new SnapshotTable(root)
    .loadAppended(spark, "postings", run.summary.rounds - 1)
    .select("term", "url", "weight", "title").localCheckpoint(true)
  private val indexed = scala.collection.mutable.Map.empty[(String, String), Seq[(String, Double, String)]]
  private val stored = scala.collection.mutable.Map.empty[(String, String), Seq[Row]]

  private def top(r: Row) = (r.getAs[String]("url"), r.getAs[Double]("score"), r.getAs[String]("title"))

  /** What's wrong with a request's rows, checked against an independent
   * path: `SearchIndex.search` over the committed postings for searches,
   * `searchStore` for SearchService responses, the crawl's own summary and
   * the corpus generator for the status and page reads. */
  private def wrong(q: Request): Option[String] = q.kind match {
    case "search_store" =>
      val want = indexed.getOrElseUpdate((q.query, q.field),
        SearchIndex.search(postings, q.query, q.field, k).collect().toSeq.map(top))
      val got = q.rows.map(top)
      if (got == want) None else Some(s"searchStore(${q.query}, ${q.field}) != SearchIndex.search")
    case "status_summary" =>
      val last = run.summary.stats.last
      val want = Seq((last.frontierSize > 0, last.round, last.frontierSize, last.seenSize))
      val got = q.rows.map(r => (r.getBoolean(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      if (got == want) None else Some(s"statusSummary $got, crawl summary $want")
    case "check_url" =>
      val exact = q.rows.count(r => r.getAs[String]("match_kind") == "exact" &&
        r.getAs[String]("url") == q.url)
      if (exact == 1) None else Some(s"checkUrl(${q.url}): $exact exact rows")
    case "get_page" =>
      val i = docNumber(q.url).toLong
      val raw = CorpusGen.docOf(i, c.nDocs).raw
      if (q.rows.size == 1 && q.rows.head.getAs[String]("raw") == raw) None
      else Some(s"getPage(${q.url}): ${q.rows.size} rows or a different page")
    case "search_service" =>
      val byReq = q.rows.groupBy(_.getAs[String]("req_id"))
      q.batch.collectFirst(Function.unlift { case (id, query, f) =>
        val want = stored.getOrElseUpdate((query, f),
          Crawler.searchStore(spark, root, query, f, k).collect().toSeq)
          .map(r => (top(r), r.getAs[String]("snippet")))
        val got = byReq.getOrElse(id, Nil).sortBy(_.getAs[Long]("rank"))
          .map(r => (top(r), r.getAs[String]("snippet")))
        if (got == want) None else Some(s"SearchService($query, $f) != searchStore")
      })
  }

  def verify(ops: Seq[Op]): Seq[(Int, String)] =
    ops.flatMap(o => wrong(reqOf(o)).map(o.index -> _))

  def named(ops: Seq[Op]): Seq[Metric] = {
    val ms = ops.map(_.seconds * 1e3)
    val tail = Stats.tail(ms).toSeq.flatMap { case (p, v) =>
      Seq(Metric("request_ms_tail", v, "ms"), Metric("request_ms_tail_percentile", p, "pct"))
    }
    Metric("request_ms_p50", Stats.median(ms), "ms") +: tail
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val spans = tracer.spans
    def ms(name: String) = Stats.median(spans.filter(_.name == name).map(_.seconds * 1e3))
    val traced = ops.filter(_.traced).map(reqOf)
    val searches = spans.filter(_.name == "crawler.search_store")
      .zip(traced.filter(_.kind == "search_store"))
    val tail = Stats.tail(ops.filterNot(_.traced).map(_.seconds * 1e3))
      .getOrElse(sys.error("too few untraced requests for a tail latency"))
    Map(
      "crawler.search_store.ms_p50" -> ms("crawler.search_store"),
      "crawler.status_summary.ms_p50" -> ms("crawler.status_summary"),
      "crawler.check_url.ms_p50" -> ms("crawler.check_url"),
      "crawler.get_page.ms_p50" -> ms("crawler.get_page"),
      "search_service.submit.ms_p50" -> ms("search_service.submit"),
      "search_service.process.ms_p50" -> ms("search_service.process"),
      "crawler.search_store.rows_read_per_result" -> Stats.median(searches.map {
        case (s, q) => s.recordsRead.toDouble / math.max(q.rows.size, 1)
      }),
      "snapshot.files_per_request" -> {
        val f = traced.flatMap(_.files)
        f.sum.toDouble / f.size
      },
      "request_ms_tail" -> tail._2)
  }
}
