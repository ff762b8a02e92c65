package perfbench

import graft.SparkEntry
import graft.functions.{gf, sketch}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One query's result: row count and an order-independent digest, plus the
 * rows themselves for the first timed pass (they go to the DuckDB check). */
final case class QueryResult(rows: Long, digest: String, kept: Option[(StructType, Seq[Row])])

/**
 * The `SparkEntry.queries` suite over the stored sf0.01 tables, in whole
 * passes; one op is one query. The frontier workload's traced run drives
 * it: a first, cold pass untraced, then a traced pass.
 *
 * Checks: every pass must return what the first timed pass returned. The
 * first pass's rows are written out with `SparkEntry.oracleSql`, and
 * run.py compares them with DuckDB on the same tables. Queries with no
 * oracle SQL must match the row counts and digests pinned in
 * `data/sf0.01.pins`.
 */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val sfDir: String = dataDir.resolve("sf0.01").toString
  val names: IndexedSeq[String] = SparkEntry.queries.keys.toIndexedSeq.sorted

  override def boundary(i: Int): Boolean = i % names.size == 0
  override def group(i: Int): Int = i / names.size

  /** read every table the queries use */
  def setup(rep: Int): Unit =
    Files.list(Paths.get(sfDir)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).foreach(p => spark.read.parquet(p).count())

  /** None: the first, untraced pass runs cold, the second traced. */
  def warm(traced: Boolean): Unit = ()

  private def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def run(q: String, keep: Boolean): QueryResult = {
    val (rows, schema) = tracer.span(s"sparkentry.$q") {
      val df = SparkEntry.queries(q)(spark, sfDir)
      (df.collect().toSeq, df.schema)
    }
    QueryResult(rows.size, digest(rows), if (keep) Some(schema -> rows) else None)
  }

  def op(i: Int): (String, Long, Any) = {
    val q = names(i % names.size)
    (q, 1L, run(q, keep = i < names.size))
  }

  private lazy val pins: Map[String, (Long, String)] = {
    val p = dataDir.resolve("sf0.01.pins")
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }

  def verify(ops: Seq[Op]): Seq[(Int, String)] = {
    val res = ops.map(o => o -> o.output.get.asInstanceOf[QueryResult])
    val first = res.filter(_._2.kept.isDefined).map { case (o, r) => o.kind -> r }.toMap
    // the first pass's rows, and the SQL that should reproduce them
    val out = work.resolve("curate-out")
    first.foreach { case (q, r) =>
      val (schema, rows) = r.kept.get
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
      println(s"[digest] $q ${r.rows} ${r.digest}")
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), oracle.map { case (k, v) =>
      s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    Files.writeString(out.resolve("ops.json"), res.groupBy(_._1.kind)
      .map { case (q, rs) => s"${Json.str(q)}: ${rs.size}" }.mkString("{", ", ", "}"))
    res.flatMap { case (o, r) =>
      val ref = first.get(o.kind)
      if (ref.isEmpty) Some(o.index -> s"${o.kind}: no first-pass result")
      else if (r.digest != ref.get.digest) Some(o.index -> s"${o.kind}: differs from pass 0")
      else if (oracle.contains(o.kind)) None
      else pins.get(o.kind) match {
        case None => Some(o.index -> s"${o.kind}: no oracle SQL and no pin")
        case Some(pin) if pin != (r.rows -> r.digest) =>
          Some(o.index -> s"${o.kind}: ${r.rows} rows ${r.digest}, pinned $pin")
        case _ => None
      }
    }
  }

  private def passes(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(o => group(o.index)).values.filter(_.size == names.size)
      .map(_.map(_.seconds).sum).toSeq

  def named(ops: Seq[Op]): Seq[Metric] =
    Seq(Metric("suite_s", Stats.median(passes(ops)), "s"))

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val spans = tracer.spans
    val hs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(sketch.shingle_hash64(gf.tokenize(col("text")), 3).as("hs"))
    val minhash = Projection.nsPerRow(hs, if (tiny) 10 else 100)(
      sketch.minhash_band_hashes(col("hs"), 32, 4))
    names.map(q => s"sparkentry.$q.s" ->
      Stats.median(spans.filter(_.name == s"sparkentry.$q").map(_.seconds))).toMap ++ Map(
      "suite_s" -> Stats.median(passes(ops.filterNot(_.traced))),
      "functions.minhash_band_hashes.ns_per_row" -> minhash)
  }
}
