package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry
import graft.queries.PipelineQueries

/** The `queries` layer: timed calls into `SparkEntry.queries` faces, each
  * materialised and checked. The fixture faces (`PipelineQueries.all`: q17,
  * q18) need no input; the table faces (q01, q16, q66, q67) read small
  * TPC-H-shaped tables the benchmark generates from the seed, because the
  * repository's test parquet lives outside the source tree. */
object Faces {
  import Layers.Metrics

  val FixtureFaces: Seq[String] = PipelineQueries.all.map(_.name)
  val TableFaces = Seq("q01_fetch_join", "q16_crawl_bfs", "q66_dedup_components",
    "q67_dedup_canonical")

  /** One call of `name`, collected; its wall time in seconds. */
  private def call(spark: SparkSession, trace: Trace, name: String,
      dir: String): (Seq[Row], Double) = {
    val start = System.nanoTime()
    val rows = trace.span(s"face:$name") {
      SparkEntry.queries(name)(spark, dir).collect().toSeq
    }._1
    (rows, Main.secs(start))
  }

  /** q17 and q18, checked against the closed forms their oracles encode. */
  def fixtures(spark: SparkSession, trace: Trace, m: Metrics, tally: Tally): Unit = {
    var total = 0.0
    FixtureFaces.foreach { name =>
      val (rows, dt) = call(spark, trace, name, "")
      val why = name match {
        case "q17_crawl_quotes_e2e" =>
          val got = rows.map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getString(3)))
          if (got != new QuotesWorkload().expected) Some("q17 records differ from the closed form")
          else None
        case "q18_crawl_books_audit" =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toSet
          val want = Set("crawled" -> 36L, "rejected_domain" -> 1L, "robots_request" -> 1L)
          if (got != want) Some(s"q18 audit counts $got, expected $want") else None
        case other => Some(s"no check for fixture face $other")
      }
      if (tally.record(why)) m(s"queries.${name}_s") = (dt, "s")
      total += dt
    }
    m("queries.PipelineQueries_s") = (total, "s")
  }

  /** q01, q16, q66 and q67 on tables generated from `seed` under `dir`,
    * each checked against a reference computed in the benchmark JVM. */
  def tables(spark: SparkSession, seed: Long, dir: String, trace: Trace, m: Metrics,
      tally: Tally): Unit = {
    val t = TableCorpus.generate(seed)
    t.write(spark, dir)
    val out = mutable.Map.empty[String, Seq[Row]]
    TableFaces.foreach { name =>
      val (rows, dt) = call(spark, trace, name, dir)
      out(name) = rows
      val why = name match {
        case "q01_fetch_join" => diff("q01", rows.map(_.mkString("|")), t.fetchJoin)
        case "q16_crawl_bfs" => diff("q16", rows.map(_.mkString("|")), t.bfs)
        case "q66_dedup_components" => t.checkComponents(rows.map(r => r.getLong(0) -> r.getLong(1)))
        case "q67_dedup_canonical" =>
          t.checkCanonical(out("q66_dedup_components").map(r => r.getLong(0) -> r.getLong(1)),
            rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
      }
      if (tally.record(why)) m(s"queries.${name}_s") = (dt, "s")
    }
  }

  private def diff(face: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got.sorted == want.sorted) None
    else Some(s"$face: ${got.size} rows vs ${want.size} expected; first extra " +
      s"${got.diff(want).headOption}, first missing ${want.diff(got).headOption}")
}

/** TPC-H-shaped `orders`, `lineitem` and `documents` tables with the columns
  * the corpus views and the dedup faces read. Orders have dense keys
  * 0..n-1; a few line items point past the last order (fetch misses). */
final case class TableCorpus(
    orders: Seq[(Long, String, Double, Timestamp, String)],
    lineitem: Seq[(Long, Long, Long, Int)],
    documents: Seq[(Long, String, String, String)]) {

  private def url(k: Long) = s"http://h${k % 97}.example.com/p/$k"

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    orders.toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority").coalesce(1).write.parquet(s"$dir/orders.parquet")
    lineitem.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    documents.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  /** q01's rows: every line item's frontier row left-joined to its page. */
  def fetchJoin: Seq[String] = {
    val n = orders.size
    lineitem.map { case (k, _, _, line) =>
      val method = if (k % 11 == 0) "POST" else if (k % 17 == 0) "HEAD" else "GET"
      val status =
        if (k >= n) -1
        else if (k % 37 == 0) 503 else if (k % 31 == 0) 301 else if (k % 41 == 0) 404 else 200
      s"${url(k)}|h${k % 97}.example.com|${line % 4}|$method|$status|${k < n}"
    }
  }

  /** q16's rows: a depth-3 BFS from the seed orders over the `links` view. */
  def bfs: Seq[String] = {
    val n = orders.size
    val edges = lineitem.map { case (k, part, _, line) =>
      url(k) -> url((k * 31 + part * 7 + line) % n)
    }.groupMap(_._1)(_._2)
    val depth = mutable.LinkedHashMap.empty[String, Int]
    var frontier = orders.map(_._1).filter(_ % 100 < 2).map(url)
    frontier.foreach(depth(_) = 0)
    for (d <- 1 to 3) {
      frontier = frontier.flatMap(u => edges.getOrElse(u, Nil)).distinct.filterNot(depth.contains)
      frontier.foreach(depth(_) = d)
    }
    depth.toSeq.map { case (u, d) => s"$u|$d" }
  }

  /** q66's document universe: the documents, a clone of every 7th one at
    * id + 10000, and for every id ≡ 3 (mod 11) a bridge at id + 30000 made
    * of its own first half and the next document's first half. */
  val augmented: Map[Long, String] = {
    val text = documents.map(d => d._1 -> d._2).toMap
    def half(s: String) = { val w = s.trim.split(" "); w.take((w.length + 1) / 2).mkString(" ") }
    text ++ text.collect { case (id, s) if id % 7 == 0 => (id + 10000) -> s } ++
      text.collect { case (id, s) if id % 11 == 3 && text.contains(id + 1) =>
        (id + 30000) -> (half(s) + " " + half(text(id + 1)))
      }
  }

  /** Every augmented document sits in exactly one cluster, named by its
    * smallest member, and a clone sits with its source. */
  def checkComponents(rows: Seq[(Long, Long)]): Option[String] = {
    val cluster = rows.toMap
    val members = rows.groupMap(_._2)(_._1)
    if (rows.size != cluster.size || cluster.keySet != augmented.keySet)
      Some(s"q66 assigns ${rows.size} rows over ${cluster.size} docs, expected ${augmented.size}")
    else members.collectFirst { case (c, ds) if ds.min != c => s"q66 cluster $c has member ${ds.min}" }
      .orElse(cluster.collectFirst {
        case (id, c) if id >= 10000 && id < 30000 && cluster(id - 10000) != c =>
          s"q66 put clone $id apart from its source"
      })
  }

  /** One keeper per q66 cluster: the longest text, ties to the smallest id,
    * with the cluster's size. */
  def checkCanonical(comp: Seq[(Long, Long)], rows: Seq[(Long, Long, Long)]): Option[String] = {
    val want = comp.groupMap(_._2)(_._1).map { case (c, ds) =>
      (c, ds.minBy(d => (-augmented(d).length, d)), ds.size.toLong)
    }.toSet
    if (rows.toSet != want || rows.size != want.size)
      Some(s"q67 keepers differ: ${rows.size} rows vs ${want.size}; first " +
        s"${(rows.toSet diff want).headOption}")
    else None
  }
}

object TableCorpus {
  val Orders = 1500
  val Documents = 500
  private val Words = Vector("crawl", "frontier", "polite", "robots", "fetch", "parse",
    "anchor", "host", "wave", "spark", "dedup", "seen", "token", "shuffle", "partition",
    "sketch", "bloom", "cuckoo", "join", "merge", "window", "batch", "stream", "query")

  def generate(seed: Long): TableCorpus = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val day = 86400000L
    val t0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val orders = (0L until Orders).map { k =>
      (k, Seq("F", "O", "P")(rnd.nextInt(3)), 1000 + rnd.nextInt(400000) / 100.0,
        new Timestamp(t0 + rnd.nextInt(2400) * day),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))
    }
    val lineitem = (0L until Orders + Orders / 50).flatMap { k =>
      (1 to 1 + rnd.nextInt(7)).map(line =>
        (k, rnd.nextInt(200).toLong, rnd.nextInt(10).toLong, line))
    }
    val documents = (0L until Documents).map { id =>
      val text = Seq.fill(16 + rnd.nextInt(64))(Words(rnd.nextInt(Words.size))).mkString(" ")
      (id, text, Seq("en", "tr", "es", "zh")(rnd.nextInt(4)), s"src${id % 5}")
    }
    TableCorpus(orders, lineitem, documents)
  }
}
