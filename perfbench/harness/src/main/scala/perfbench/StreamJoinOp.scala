package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{Ev, Streams}

/** The flagship view→purchase stream-stream join, fed from the workload's
  * events through a MemoryStream. One step appends the next `Chunk`
  * events and waits for the micro-batch that covers them. */
final class StreamJoinOp {
  private val DayMs = 86400000L
  private val Chunk = 1000
  private var events: Array[Ev] = Array.empty
  private var pos = 0L
  private var mem: MemoryStream[Ev] = _
  private var query: StreamingQuery = _
  private val appended = ArrayBuffer.empty[Ev]

  /** Loads the events, starts the query with its checkpoint in `dir` and
    * runs its first micro-batch, which plans and compiles it. */
  def start(spark: SparkSession, ctx: Ctx, dir: String): Unit = {
    import spark.implicits._
    events = graft.sources.Tables.events(spark, ctx.data)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    pos = 0L
    appended.clear()
    mem = MemoryStream[Ev](spark)
    val src = mem.toDF()
    query = Streams.viewPurchaseJoin(
        src.filter(col("event_type") === "view"), src.filter(col("event_type") === "purchase"))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", s"$dir/checkpoint").start()
    step()
  }

  /** Appends the next chunk, in event-time order, and processes it.
    * Returns the progress of the micro-batches that ran. */
  def step(): Seq[StreamingQueryProgress] = {
    val last = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val rows = next(Chunk)
    appended ++= rows
    mem.addData(rows)
    query.processAllAvailable()
    query.recentProgress.toSeq.filter(_.batchId > last)
  }

  /** Each pass over the events is shifted 40 days later, past the join
    * window and the watermark delay, so passes never pair up. */
  private def next(n: Int): Seq[Ev] = (0 until n).map { _ =>
    val cycle = pos / events.length
    val e = events((pos % events.length).toInt)
    pos += 1
    e.copy(event_id = e.event_id + cycle * events.length,
      ts = new Timestamp(e.ts.getTime + cycle * 40 * DayMs))
  }

  /** The join must have emitted exactly the pairs a batch join finds over
    * every event appended. */
  def verify(spark: SparkSession, ctx: Ctx): Unit = {
    import spark.implicits._
    val all = appended.toSeq.toDS()
    val v = all.filter(col("event_type") === "view").select(col("user_id").as("vu"), col("ts").as("vts"))
    val p = all.filter(col("event_type") === "purchase").select(col("user_id").as("pu"), col("ts").as("pts"))
    val expect = v.join(p, col("vu") === col("pu") && col("pts") >= col("vts") &&
      col("pts") <= col("vts") + expr("INTERVAL 10 MINUTES")).count()
    val got = query.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
    ctx.info("stream_join_pairs") = got
    ctx.check(expect > 0 && got == expect, s"stream join emitted $got pairs, expected $expect")
  }

  def stop(): Unit = if (query != null) query.stop()
}
