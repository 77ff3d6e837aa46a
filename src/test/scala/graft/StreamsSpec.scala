package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Streaming semantics through MemoryStream micro-batches: windowed
  * event-time aggregation with watermark finalization, exact dedup within
  * the horizon, and custom keyed state via flatMapGroupsWithState. */
class StreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def ts(sec: Int) = new Timestamp(sec * 1000L)

  private def ev(id: Long, sec: Int, user: Long = 1L,
      typ: String = "click", v: Double = 1.0) =
    Event(id, ts(sec), user, typ, v)

  test("windowed counts finalize when the watermark passes the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.windowedCounts(in.toDF(), "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      in.addData(ev(1, 1), ev(2, 3), ev(3, 11))
      q.processAllAvailable()
      // watermark = 11-5 = 6 < 10: first window not final yet (append mode)
      assert(spark.table("wc").count() == 0)
      in.addData(ev(4, 21)) // watermark -> 16: [0,10) finalizes
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n_events") == 2)
      // a late event behind the watermark is dropped
      in.addData(ev(5, 2), ev(6, 31)) // watermark -> 26: [10,20) finalizes
      q.processAllAvailable()
      val all = spark.table("wc").collect().map(r =>
        (r.getAs[Timestamp]("window_start").getTime / 1000, r.getAs[Long]("n_events")))
      assert(all.toSet == Set((0L, 2L), (10L, 1L)))
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence inside the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.dedupEvents(in.toDF(), "10 seconds")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      in.addData(ev(1, 1, v = 1.0), ev(2, 2))
      q.processAllAvailable()
      in.addData(ev(1, 3, v = 99.0)) // replay of id 1 -> dropped
      q.processAllAvailable()
      val rows = spark.table("dd").collect()
      assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L))
      assert(rows.find(_.getAs[Long]("event_id") == 1L).get
        .getAs[Double]("value") == 1.0)
    } finally q.stop()
  }

  test("sessionize accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS(), gapMs = 5000)
      .writeStream.format("memory").queryName("ss").outputMode("append").start()
    try {
      in.addData(ev(1, 1, user = 7, v = 2.0), ev(2, 2, user = 7, v = 3.0))
      q.processAllAvailable()
      in.addData(ev(3, 3, user = 7, v = 5.0), ev(4, 3, user = 9, v = 1.0))
      q.processAllAvailable()
      val open = spark.table("ss").collect()
        .filter(r => r.getAs[Long]("user_id") == 7 && !r.getAs[Boolean]("closed"))
      // state accumulated across batches: latest summary sees all 3 events
      assert(open.map(_.getAs[Long]("n_events")).max == 3)
      assert(open.map(_.getAs[Double]("total_value")).max == 10.0)
    } finally q.stop()
  }

  test("rollingAnomaly carries the 10-value buffer across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.rollingAnomaly(in.toDS())
      .writeStream.format("memory").queryName("an").outputMode("append").start()
    try {
      // five steady 1.00-value priors arrive OUT OF ORDER in batch 1 —
      // the per-batch (ts, event_id) sort must restore event-time order
      in.addData(ev(3, 3), ev(1, 1), ev(5, 5), ev(2, 2), ev(4, 4))
      q.processAllAvailable()
      // batch 2: a 50.00 spike against the batch-1 state (zero variance
      // baseline -> any deviation is anomalous), then a fresh 1.00
      in.addData(ev(6, 6, v = 50.0), ev(7, 7))
      q.processAllAvailable()
      val rows = spark.table("an").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("n"), r.getAs[Boolean]("is_anomaly"))).toMap
      // priors: n grows 0..4, all abstain (n < 5)
      (1L to 5L).foreach { id =>
        assert(rows(id) == ((id - 1, false)), s"event $id: ${rows(id)}") }
      // the spike sees the full 5-deep baseline carried from batch 1
      assert(rows(6L) == ((5L, true)), s"spike: ${rows(6L)}")
      // the follow-up 1.00 sits inside the (now spiked) spread:
      // n=6, s=5*100+5000=5500, ss=4*10000+... variance dominated by the
      // spike -> not anomalous
      assert(rows(7L)._1 == 6L && !rows(7L)._2, s"follow-up: ${rows(7L)}")
    } finally q.stop()
  }
}
