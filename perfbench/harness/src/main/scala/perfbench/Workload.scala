package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run shares across its phases. */
final class Ctx(val data: String, val work: String, val seconds: Double,
                val rows: Map[String, Long], val traced: Boolean) {
  /** Failed or wrong operations, with the reason of each. */
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  var attempted: Long = 0L
  /** Informational values written beside the metrics (sample counts, rates). */
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Per-layer metrics a workload measures itself. */
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var tracer: Option[Tracer] = None

  def scratch: String = s"$work/scratch"

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
}

/** One declared key of a [[Mix]], the input tables it reads, and the
  * length of its slot in the schedule. */
final case class Slot(key: String, reads: Seq[String], slotS: Double)

/** A cycle of declared keys called in a fixed order by one client on a
  * fixed schedule: each call is due when the slots before it have passed,
  * whether or not the call before has finished. A slot is about twice its
  * key's call time on a 4-CPU machine, so a call seldom waits for the one
  * before, even in a run where the machine is slow. A run makes as many
  * whole cycles as it takes to schedule `--seconds` of calls, at least
  * one. Before it, `warmCycles` untimed cycles run back to back, so the
  * timed calls find the JIT past the compiles of every key. */
final case class Mix(name: String, slots: Seq[Slot], warmCycles: Int) {
  def keys: Seq[String] = slots.map(_.key)
  def cycleS: Double = slots.map(_.slotS).sum
}

object Workload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val StarJoin: Mix = Mix("star_join", Seq(
      Slot("q_join_interval", Seq("events"), 0.8),
      Slot("q_join_asof", Seq("events", "orders"), 1.6),
      Slot("q_join_salted", Seq("events", "customer"), 1.1),
      Slot("q_agg_cube", Seq("lineitem"), 1.0),
      Slot("q_sink_zorder", Seq("lineitem"), 2.2)),
    warmCycles = 2)

  val LlmBatch: Mix = Mix("llm_batch", Seq(
      Slot("q_dedup_cluster", Seq("documents"), 4.5),
      Slot("q_knn_ivfpq", Seq("embeddings"), 5.0),
      Slot("q_sim_join", Seq("embeddings"), 2.0),
      Slot("q_text_bm25", Seq("documents"), 1.4)),
    warmCycles = 1)

  val AllKeys: Seq[String] = (StarJoin.keys ++ LlmBatch.keys).distinct

  def byName(name: String): Workload = name match {
    case "star_join" => new Workload(StarJoin)
    case "llm_batch" => new Workload(LlmBatch)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Releases what a call left behind, outside the clock: persisted
    * RDDs are unpersisted and a GC lets the ContextCleaner drop
    * broadcasts. Returns how many persisted RDDs the call left. */
  def release(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    left.foreach(_.unpersist(blocking = true))
    System.gc()
    left.size
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteTree)
    f.delete()
  }
}

/** One benchmark workload: a [[Mix]] of keys, with the reference pass
  * that fixes what every call must return and the timed pass. */
final class Workload(mix: Mix) {
  private val queries = graft.SparkEntry.queries
  private val ref = mutable.Map.empty[String, Fingerprint]

  /** Drops a session's scratch artifacts: the next session writes its own. */
  def teardown(ctx: Ctx): Unit = Workload.deleteTree(new java.io.File(ctx.scratch))

  /** Dumps each key's result for the DuckDB oracle and keeps its
    * fingerprint, read back from the dump, for the timed calls. */
  def reference(spark: SparkSession, ctx: Ctx): Unit = {
    for (k <- mix.keys) {
      val dir = s"${ctx.work}/ref/$k"
      try {
        queries(k)(spark, ctx.data).coalesce(1).write.mode("overwrite").parquet(dir)
        ref(k) = Fingerprint.of(spark.read.parquet(dir))
      } catch {
        case NonFatal(e) => ctx.check(ok = false, s"$k reference call failed: $e")
      }
      Workload.release(spark)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => mix.keys.contains(k) }
    Main.Json.writeValue(new java.io.File(s"${ctx.work}/ref/oracle_sql.json"), oracle)
    ctx.info("reference_rows") = ref.map { case (k, f) => k -> f.rows }
  }

  /** One call; a traced one runs under the tracer. Its fingerprint must
    * equal the reference's. */
  private def call(spark: SparkSession, ctx: Ctx, k: String, tracer: Option[Tracer]): Unit = {
    ctx.attempted += 1
    try {
      val run = () => Fingerprint.of(queries(k)(spark, ctx.data))
      val f = tracer.fold(run())(_.call(k)(run()))
      if (!ref.get(k).contains(f)) ctx.failures += s"$k returned $f, reference ${ref.get(k)}"
    } catch {
      case NonFatal(e) => ctx.failures += s"$k failed: $e"
    }
  }

  def measure(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    for (_ <- 1 to mix.warmCycles; k <- mix.keys) { call(spark, ctx, k, None); Workload.release(spark) }
    val service, latency, late, untracedService = ArrayBuffer.empty[Double]
    val perKey = mutable.Map.empty[String, ArrayBuffer[Double]]
    var left = 0L
    // A traced run calls each key twice in a slot twice as long, once
    // traced and once not, in alternating order; the untraced twin is the
    // base of the tracing overhead.
    val cycleS = mix.cycleS * (if (ctx.traced) 2 else 1)
    val starts = mix.slots.scanLeft(0.0)(_ + _.slotS).map(_ * cycleS / mix.cycleS)
    ctx.tracer.foreach(_.attach())
    val n = mix.keys.size
    val cycles = math.max(1, math.ceil(ctx.seconds / mix.cycleS).toInt)
    val t0 = Tracer.nowMs()
    for (i <- 0 until cycles * n) {
      val k = mix.keys(i % n)
      val due = t0 + ((i / n) * cycleS + starts(i % n)) * 1000
      val wait = due - Tracer.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong)
      late += math.max(0.0, Tracer.nowMs() - due) / 1e3
      val order =
        if (!ctx.traced) Seq(true) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      for (traced <- order) {
        if (ctx.traced && !traced) ctx.tracer.foreach(_.detach())
        val s = Tracer.nowMs()
        call(spark, ctx, k, if (traced) ctx.tracer else None)
        val e = Tracer.nowMs()
        if (ctx.traced && !traced) ctx.tracer.foreach(_.attach())
        if (traced) {
          service += (e - s) / 1e3
          latency += (e - due) / 1e3
          perKey.getOrElseUpdate(k, ArrayBuffer.empty) += (e - s) / 1e3
        } else untracedService += (e - s) / 1e3
        left += Workload.release(spark)
      }
    }
    ctx.tracer.foreach(_.workloadSpan(mix.name, t0, Tracer.nowMs()))
    val calls = service.size
    val busy = service.sum
    ctx.info("calls") = calls
    ctx.info("cycle_s") = cycleS
    ctx.info("utilization") = busy / (cycles * cycleS)
    ctx.info("samples_beyond_p90") = service.count(_ > Stats.quantile(service.toSeq, 0.9))
    ctx.info("key_service_s") = perKey.map { case (k, x) => k -> x.toSeq }
    // the generated rows of the tables each call's key reads: a count the
    // code under test cannot change by reading less
    val rowsIn = mix.slots.map(_.reads.map(ctx.rows).sum.toDouble)
    if (ctx.traced) {
      for (k <- Workload.AllKeys)
        ctx.layers(s"queries.$k.p50_s") = perKey.get(k).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
      val (bytes, files) = Stats.du(new java.io.File(ctx.scratch))
      ctx.layers("util.persisted_blocks_left") = left.toDouble / (calls + untracedService.size)
      ctx.layers("artifacts.mb") = bytes / 1048576.0
      ctx.layers("artifacts.files") = files.toDouble
      ctx.layers("bench.trace_overhead_ratio") = busy / untracedService.sum
      ctx.layers("bench.gen_late_p90_s") = Stats.quantile(late.toSeq, 0.9)
    }
    Map(
      "queries_per_s" -> calls / busy,
      "call_p50_s" -> Stats.median(service.toSeq),
      "call_p90_s" -> Stats.quantile(service.toSeq, 0.9),
      "input_rows_per_s" -> service.indices.map(j => rowsIn(j % n)).sum / busy,
      "event_lat_p50_s" -> Stats.median(latency.toSeq),
      "event_lat_p90_s" -> Stats.quantile(latency.toSeq, 0.9))
  }
}
