package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Graft
import graft.sources.Tables

/** Direct timed calls into public layers, made by the traced run only:
  * `operators` are facade calls on the workload's inputs, `functions`
  * are kernel microbenchmarks through the public kernel classes. */
object Probes {
  private val LlmOperators = Seq("near_dup_pairs", "dedup_clusters", "similarity_join",
    "knn_join", "ann_index_query", "text_index_query", "dedup_index_query")
  private val StarOperators = Seq("interval_join", "asof_join", "salted_join", "write_zordered")
  private val StreamSteps = 3

  private def timed(spark: SparkSession, ctx: Ctx, name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      ctx.layers(s"operators.$name.s") = (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) =>
        ctx.failures += s"operator probe $name failed: $e"
        ctx.layers(s"operators.$name.s") = 0.0
    }
    ctx.attempted += 1
    Workload.release(spark)
  }

  /** Runs the operator probes that belong to `workload`; the others
    * read 0, the layer being idle there. */
  def operators(spark: SparkSession, ctx: Ctx, workload: String): Unit = {
    (LlmOperators ++ StarOperators).foreach(n => ctx.layers(s"operators.$n.s") = 0.0)
    val d = ctx.data
    def run(df: DataFrame): Unit = Fingerprint.of(df)
    if (workload == "llm_batch") {
      val docs = Tables.documents(spark, d)
      val emb = Tables.embeddings(spark, d)
      val root = s"${ctx.work}/probe_indexes"
      Graft.nearDupPairs(docs, lsh = true).write.parquet(s"$root/pairs")
      val pairs = spark.read.parquet(s"$root/pairs")
      timed(spark, ctx, "near_dup_pairs")(run(Graft.nearDupPairs(docs, lsh = true)))
      timed(spark, ctx, "dedup_clusters")(run(Graft.dedupClusters(docs.select("doc_id"), pairs)))
      timed(spark, ctx, "similarity_join")(run(Graft.similarityJoin(emb, "vec_id", "embedding", 0.9)))
      timed(spark, ctx, "knn_join")(run(Graft.knnJoin(emb, "vec_id", "embedding", k = 3)))
      Graft.annIndexBuild(emb, "vec_id", "embedding", s"$root/ann")
      val v0 = emb.filter(col("vec_id") === 0).select(col("embedding").cast("array<double>"))
        .first().getSeq[Double](0)
      val qv = v0.map(_ / math.sqrt(v0.map(x => x * x).sum))
      timed(spark, ctx, "ann_index_query")(run(Graft.annIndexQuery(spark, s"$root/ann", qv)))
      Graft.textIndexBuild(docs, "doc_id", "text", s"$root/text")
      timed(spark, ctx, "text_index_query")(run(Graft.textIndexQuery(spark, s"$root/text", Seq("spark", "window"))))
      Graft.dedupIndexBuild(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", s"$root/dedup")
      timed(spark, ctx, "dedup_index_query")(run(Graft.dedupIndexQuery(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", s"$root/dedup")))
    }
    if (workload == "star_join") {
      val ev = Tables.events(spark, d)
      val us = Graft.epochUs(col("ts"))
      val views = ev.filter(col("event_type") === "view").select(col("user_id"), us.as("v_us"))
      val buys = ev.filter(col("event_type") === "purchase").select(col("user_id"), us.as("p_us"))
      timed(spark, ctx, "interval_join")(run(Graft.intervalJoin(views, buys, "user_id",
        col("v_us"), col("p_us"), 600000000L)))
      timed(spark, ctx, "asof_join")(run(Graft.asofJoin(buys, views.dropDuplicates("user_id", "v_us"),
        "user_id", "user_id", "p_us", "v_us", Seq("v_us"))))
      val li = Tables.lineitem(spark, d)
      timed(spark, ctx, "salted_join")(run(Graft.saltedJoin(li, Tables.part(spark, d), "l_partkey", "p_partkey",
        Seq(col("l_orderkey")))))
      timed(spark, ctx, "write_zordered")(Graft.writeZOrdered(li, "l_orderkey", "l_partkey",
        s"${ctx.work}/probe_zorder"))
    }
  }

  /** Runs the stream-stream join for `StreamSteps` micro-batches of 1000 events
    * after its first, and reports the medians of their duration parts, the
    * state store's figures and the most input rows one micro-batch had to
    * take in; all 0 on a workload without the stream. */
  def streaming(spark: SparkSession, ctx: Ctx, workload: String): Unit = {
    val names = Seq("trigger_s", "add_batch_s", "planning_s", "wal_commit_s", "state_commit_s",
      "state_rows", "state_mb", "backlog_max_rows")
    names.foreach(n => ctx.layers(s"streaming.$n") = 0.0)
    if (workload != "star_join") return
    val op = new StreamJoinOp
    try {
      op.start(spark, ctx, s"${ctx.work}/stream-probe")
      val ps = (1 to StreamSteps).flatMap(_ => op.step()).filter(_.numInputRows > 0)
      def dur(k: String) = Stats.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)))
      ctx.layers("streaming.trigger_s") = dur("triggerExecution")
      ctx.layers("streaming.add_batch_s") = dur("addBatch")
      ctx.layers("streaming.planning_s") = dur("queryPlanning")
      ctx.layers("streaming.wal_commit_s") = dur("walCommit")
      ctx.layers("streaming.state_commit_s") = Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum / 1e3))
      ctx.layers("streaming.state_rows") = ps.last.stateOperators.map(_.numRowsTotal).sum.toDouble
      ctx.layers("streaming.state_mb") = ps.last.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
      ctx.layers("streaming.backlog_max_rows") = ps.map(_.numInputRows).max.toDouble
      op.verify(spark, ctx)
    } catch {
      case NonFatal(e) => ctx.check(ok = false, s"streaming probe failed: $e")
    } finally op.stop()
  }

  /** Calls per second of `body` over about `ms` milliseconds, after as
    * long again of untimed calls for the JIT. */
  private def rate(ms: Double)(body: => Long): Double = {
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < ms * 1e6) body
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < ms * 1e6) n += body
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Kernel microbenchmarks over token arrays and vectors taken from the
    * workload's own documents and embeddings. */
  def functions(spark: SparkSession, ctx: Ctx): Unit = {
    import spark.implicits._
    val texts = Tables.documents(spark, ctx.data).select("text").as[String].collect().take(200)
    val toks: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.split(" ").map(UTF8String.fromString).asInstanceOf[Array[Any]]))
    val vecs: Array[Array[Double]] = Tables.embeddings(spark, ctx.data)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].collect().take(128)
    val nullToks = Literal.create(null, ArrayType(StringType))
    val ms = 150.0
    val simd = ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent
    ctx.layers("functions.simd_available") = if (simd) 1.0 else 0.0
    ctx.layers("functions.simd_dot.dots_per_s") =
      if (!simd) 0.0
      else rate(ms) {
        var i = 0
        while (i < vecs.length - 1) { graft.functions.SimdDot.dot(vecs(i), vecs(i + 1), 64); i += 1 }
        vecs.length - 1L
      }
    val payloads = texts.map(_.getBytes("UTF-8"))
    ctx.layers("functions.phash_kernel.frames_per_s") = rate(ms) {
      payloads.map(p => graft.functions.PHashKernel.frameHashSet(p, 72, 1, Array.emptyLongArray))
      payloads.map(_.length / 72L).sum
    }
    val sp = graft.functions.ShingleProfile(nullToks, 3, 16)
    ctx.layers("functions.shingle_profile.docs_per_s") = rate(ms) { toks.foreach(sp.fold); toks.length.toLong }
    val vocab = texts.flatMap(_.split(" ")).distinct.sorted
    val bk = graft.functions.BigramKeys(nullToks, vocab, vocab.indices.toArray)
    val nTok = toks.map(_.numElements().toLong).sum
    ctx.layers("functions.bigram_keys.tokens_per_s") = rate(ms) { toks.foreach(bk.fold); nTok }
    val nb = graft.functions.NbGridSums(nullToks, vocab,
      Array.tabulate(vocab.length * 5)(i => -(i % 97).toLong - 1), 5)
    ctx.layers("functions.nb_grid_sums.rows_per_s") = rate(ms) { toks.foreach(nb.fold); toks.length.toLong }
    val half = vecs.length / 2
    def block(vs: Seq[(Array[Double], Int)]): ArrayData = new GenericArrayData(vs.map { case (v, i) =>
      InternalRow(i.toLong, new GenericArrayData(v.map(x => x: Any)), math.sqrt(v.map(x => x * x).sum))
    }.toArray[Any])
    val blockType = ArrayType(StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType)), StructField("nrm", DoubleType))))
    val a = Literal(block(vecs.zipWithIndex.take(half).toSeq), blockType)
    val b = Literal(block(vecs.zipWithIndex.drop(half).toSeq), blockType)
    val topk = graft.functions.BlockTopK(a, b, 3)
    ctx.layers("functions.block_knn.pairs_per_s") =
      rate(ms) { topk.eval(null); half.toLong * (vecs.length - half) }
  }
}
