package perfbench

import java.io.File

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, driven by `perfbench/run.py`:
  *
  *   Main --workload <name> --data <dir> --work <dir> --out <file>
  *        --seconds <s> --trace <0|1> --rows <t=n,...>
  *
  * Sets up `Setups` times (session start and input footers) and keeps the
  * last session, running the untimed reference pass after the first;
  * measures; and writes the metrics, the checks and the stamp to `--out`.
  * With `--trace 1` it also records spans (written to `<work>/spans.json`),
  * the per-layer metrics and the probes. */
object Main {
  val Setups = 3

  /** Writes the result, span and oracle files. */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val ctx = new Ctx(a("data"), a("work"), a("seconds").toDouble,
      a("rows").split(",").map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap,
      traced = a("trace") == "1")
    val wl = Workload.byName(name)

    val t00 = System.nanoTime()
    def phase(what: String): Unit =
      Console.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2f s  $what")
    var spark: SparkSession = null
    def setup(round: Int): Double = {
      if (spark != null) { wl.teardown(ctx); spark.stop() }
      val t0 = System.nanoTime()
      spark = Session.start(s"${ctx.work}/spark-local")
      phase(s"setup $round: session started")
      for (t <- Workload.Tables) graft.sources.Tables.load(spark, ctx.data, t).schema
      phase(s"setup $round: footers read")
      (System.nanoTime() - t0) / 1e9
    }
    // The untimed reference pass runs in the first session, so the later
    // set-ups and the timed region both find the JVM past its first,
    // compiling calls.
    val first = setup(1)
    val tRef = System.nanoTime()
    checkTables(spark, ctx)
    phase("tables checked")
    wl.reference(spark, ctx)
    phase("reference pass done")
    val setupTimes = first +: (2 to Setups).map(setup)
    val tMeasure = System.nanoTime()
    if (ctx.traced) ctx.tracer = Some(new Tracer(spark))
    val e2e = try wl.measure(spark, ctx) catch {
      case NonFatal(e) =>
        ctx.check(ok = false, s"measurement aborted: $e")
        Map.empty[String, Double]
    }
    phase("measured")
    val tDone = System.nanoTime()
    ctx.info("reference_pass_s") = (tMeasure - tRef) / 1e9 - setupTimes.tail.sum
    ctx.info("measure_s") = (tDone - tMeasure) / 1e9
    for (t <- ctx.tracer) {
      t.flush()
      t.detach()
      val (layers, spans) = t.summarize()
      ctx.layers ++= layers
      Json.writeValue(new File(s"${ctx.work}/spans.json"), spans)
      Probes.operators(spark, ctx, name)
      Probes.functions(spark, ctx)
      Probes.streaming(spark, ctx, name)
      ctx.info("probes_s") = (System.nanoTime() - tDone) / 1e9
    }
    val result = Map(
      "metrics" -> (e2e ++ Map(
        "setup_s" -> Stats.median(setupTimes),
        "peak_rss_mb" -> Stats.peakRssMb())),
      "layers" -> ctx.layers,
      "setup_runs_s" -> setupTimes,
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures,
      "info" -> ctx.info,
      "stamp" -> Map(
        "cpus" -> Session.Cpus,
        "setups" -> Setups,
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version")))
    Json.writeValue(new File(a("out")), result)
    phase("result written")
    wl.teardown(ctx)
    spark.stop()
  }

  /** `sources.Tables` must load every generated table with its row count
    * (one job counts them all). */
  private def checkTables(spark: SparkSession, ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions.{count, lit}
    def load(t: String) =
      if (t == "events") graft.sources.Tables.events(spark, ctx.data)
      else graft.sources.Tables.load(spark, ctx.data, t)
    val got = try {
      Workload.Tables.map(t => load(t).agg(count(lit(1)).as("n")).withColumn("t", lit(t)))
        .reduce(_ unionByName _).collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    } catch { case NonFatal(e) => Map.empty[String, Long] }
    for ((t, n) <- ctx.rows)
      ctx.check(got.get(t).contains(n), s"sources.Tables loaded ${got.get(t)} rows of $t, generated $n")
  }
}
