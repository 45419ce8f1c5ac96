package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.state.SeenSet
import graft.streaming.{StreamOps, StreamingCrawl}
import graft.streaming.StreamingCrawl.UrlEvent

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("windowedCounts: streaming result equals batch result on same data") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val events = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L),
        (i % 7).toLong, s"type${i % 3}", i.toDouble, "{}")
    }
    val batchDf = events
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val want = StreamOps.windowedCounts(batchDf)
      .orderBy("window_start", "event_type").collect().toSeq

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamOps.windowedCounts(sdf).writeStream
      .format("memory").queryName("wc").outputMode("complete").start()
    stream.addData(events.take(120))
    q.processAllAvailable()
    stream.addData(events.drop(120))
    q.processAllAvailable()
    val got = spark.table("wc").orderBy("window_start", "event_type")
      .collect().toSeq
    q.stop()
    assert(got == want)
  }

  test("dedupStream: each url emitted once across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[UrlEvent]
    val q = StreamingCrawl.dedupStream(stream.toDS()).writeStream
      .format("memory").queryName("dedup").outputMode("update").start()
    stream.addData(UrlEvent("u1", "h1", 0), UrlEvent("u2", "h1", 0),
      UrlEvent("u1", "h1", 0))
    q.processAllAvailable()
    stream.addData(UrlEvent("u1", "h1", 1), UrlEvent("u3", "h2", 1),
      UrlEvent("u2", "h1", 1))
    q.processAllAvailable()
    val got = spark.table("dedup").as[String].collect().sorted.toSeq
    q.stop()
    assert(got == Seq("u1", "u2", "u3"))
  }

  test("hostThrottle: ≤ k per host per batch, excess deferred not dropped") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[UrlEvent]
    val q = StreamingCrawl.hostThrottle(stream.toDS(), k = 2).writeStream
      .format("memory").queryName("throttle").outputMode("append").start()
    stream.addData((1 to 5).map(i => UrlEvent(s"u$i", "h1", 0)): _*)
    q.processAllAvailable()
    val batch1 = spark.table("throttle").as[String].collect().toSet
    assert(batch1 == Set("u1", "u2"))
    stream.addData(UrlEvent("u6", "h1", 1))
    q.processAllAvailable()
    val batch2 = spark.table("throttle").as[String].collect().toSet
    assert(batch2 == Set("u1", "u2", "u3", "u4")) // deferred granted first
    // drain: further host activity releases the rest, k per batch
    stream.addData(UrlEvent("u7", "h1", 2))
    q.processAllAvailable()
    assert(spark.table("throttle").count() == 6)
    stream.addData(UrlEvent("u8", "h1", 3))
    q.processAllAvailable()
    val all = spark.table("throttle").as[String].collect().toSeq
    q.stop()
    assert(all.toSet == (1 to 8).map(i => s"u$i").toSet) // nothing lost
    assert(all.size == 8)
  }

  test("foreachBatchCrawl: micro-batch wave with persistent seen table and sink fan-out") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-seen").toString
    val pages = Seq(
      ("http://s.com/1", 200, "one"), ("http://s.com/2", 200, "two"))
      .toDF("url", "status", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sink1: org.apache.spark.sql.DataFrame => Unit =
      df => got.synchronized {
        got ++= df.collect().map(r => (r.getString(0), "sink1"))
      }
    val sink2: org.apache.spark.sql.DataFrame => Unit =
      df => got.synchronized {
        got ++= df.collect().map(r => (r.getString(0), "sink2"))
      }
    val stream = MemoryStream[String]
    val q = StreamingCrawl.foreachBatchCrawl(spark,
      stream.toDF().toDF("url"), pages, s"$dir/seen",
      Seq(sink1, sink2)).start()
    stream.addData("http://s.com/1", "http://s.com/2")
    q.processAllAvailable()
    stream.addData("http://s.com/1", "http://s.com/3") // /1 already seen
    q.processAllAvailable()
    q.stop()
    val bySink = got.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    assert(bySink("sink1") == bySink("sink2"))          // exact fan-out
    assert(bySink("sink1") ==
      Seq("http://s.com/1", "http://s.com/2", "http://s.com/3"))
  }

  test("foreachBatchCrawl: one live Bloom broadcast across micro-batches, " +
      "each url reaches the sinks once") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-bloom").toString
    def u(i: Int) = s"http://b.com/$i"
    val pages = (1 to 8).map(i => (u(i), 200, s"page $i")).toDF("url", "status", "text")
    val sunk = scala.collection.mutable.ArrayBuffer.empty[String]
    // the Bloom broadcast each batch's plan probes, and how many earlier
    // ones were still live while that batch ran
    val used = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.broadcast.Broadcast[_]]
    val liveEarlier = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sink: org.apache.spark.sql.DataFrame => Unit = df => used.synchronized {
      sunk ++= df.select("url").as[String].collect()
      val bcs = df.queryExecution.analyzed.flatMap(_.expressions)
        .flatMap(_.collect { case udf: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
          udf.function })
        .collect { case SeenSet.MightContain(bc) => bc }.distinct
      liveEarlier += used.count(bc => scala.util.Try(bc.value).isSuccess)
      used ++= bcs
    }
    val stream = MemoryStream[String]
    val q = StreamingCrawl.foreachBatchCrawl(spark,
      stream.toDF().toDF("url"), pages, s"$dir/seen", Seq(sink)).start()
    // batch 1 creates the seen table; batches 2-4 repeat earlier urls, so
    // the sketch bootstraps in batch 2 and filters from then on
    Seq(Seq(1, 2, 3), Seq(2, 3, 4), Seq(1, 4, 5, 6), Seq(6, 7, 1, 8, 8))
      .foreach { batch =>
        stream.addData(batch.map(u): _*)
        q.processAllAvailable()
      }
    q.stop()
    assert(sunk.sorted.toSeq == (1 to 8).map(u).sorted)
    assert(used.size == 3 && used.distinct.size == 3,
      s"expected one Bloom broadcast in each of batches 2-4, got $used")
    assert(liveEarlier.toSeq == Seq(0, 0, 0, 0),
      s"superseded broadcasts live while later batches ran: $liveEarlier")
    used.foreach(bc => assert(scala.util.Try(bc.value).isFailure, s"$bc still live"))
  }
}
