package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** `batch_sf01`: the 20 headline queries as a closed loop, one at a time.
  * A warm-up pass comes first, then interleaved rounds until the run's
  * time is spent. Every execution materializes its full result (all
  * columns of every row) rather than a `count()`, which would let the
  * optimizer prune computed columns away.
  */
object Batch {
  val relational: Seq[String] = Seq("q_agg", "q_join_shuffle", "q_multi_join", "q_window_fn",
    "q_tumble", "q_hop", "q_session", "q_interval_join")
  val curation: Seq[String] = Seq("q_dedup_exact", "q_minhash_lsh", "q_ngram_jaccard",
    "q_tfidf", "q_semdedup", "q_quality", "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf",
    "q_ann_pq", "q_ann_ivfpq", "q_decontaminate_sem")
  /** Query groups the exec-layer metrics are reported for. */
  val execGroups: ListMap[String, Seq[String]] = ListMap(
    "queries" -> relational.take(4),
    "windows" -> relational.drop(4),
    "dedup" -> Seq("q_dedup_exact", "q_minhash_lsh", "q_ngram_jaccard", "q_tfidf", "q_semdedup"),
    "text" -> Seq("q_quality"),
    "ann" -> Seq("q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
      "q_decontaminate_sem"))
  val all: Seq[String] = relational ++ curation

  /** Materializes every row and column of `df` as one SQL execution and
    * returns the row count.
    */
  def materialize(df: DataFrame, label: String): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(label))(qe.toRdd.count())
  }

  final case class Exec(query: String, pass: String, seconds: Double, rows: Long, error: String)

  final class Runner(spark: SparkSession, val dataDir: String, ops: Ops) {
    val execs: mutable.ArrayBuffer[Exec] = mutable.ArrayBuffer.empty

    def once(q: String, pass: String): Exec = {
      val t0 = System.nanoTime()
      val e =
        try {
          val rows = materialize(SparkEntry.queries(q)(spark, dataDir), q)
          Exec(q, pass, (System.nanoTime() - t0) / 1e9, rows, null)
        } catch {
          case t: Throwable => Exec(q, pass, (System.nanoTime() - t0) / 1e9, -1L,
            s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}")
        }
      execs.synchronized(execs += e)
      ops.attempt(e.error == null, s"$q ($pass): ${e.error}")
      e
    }

    def pass(name: String): Seq[Exec] = all.map(q => once(q, name))

    /** Between passes: drops cached tables, collects garbage, and flushes
      * the pass's shuffle files to disk so their writeback does not land
      * inside the next pass's timing.
      */
    def clearBetween(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      new ProcessBuilder("sync").inheritIO().start().waitFor()
    }
  }

  /** Median time of the successful executions of `q` among `xs`. */
  def median(xs: Seq[Exec], q: String): Double =
    Stats.median(xs.filter(x => x.query == q && x.error == null).map(_.seconds))

  def sum(xs: Seq[Exec], group: Seq[String]): Double = group.map(median(xs, _)).sum

  def run(ctx: Ctx): Unit = {
    require(SparkEntry.headline.toSet == all.toSet && all.distinct.size == 20,
      s"headline battery changed: ${SparkEntry.headline.mkString(",")}")
    val spark = ctx.session(ctx.cores)
    // warm-up on the timed tables, with the queries spread over one thread
    // per core: it fills the JIT and codegen caches and the page cache
    // in less time than a sequential pass. Timed queries run one at a time.
    val r = new Runner(spark, ctx.dataDir, ctx.ops)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try all.map(q => pool.submit(() => r.once(q, "warmup"))).foreach(_.get())
    finally pool.shutdown()
    r.clearBetween()
    ctx.setupDone()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadline) {
      r.pass(s"round${rounds + 1}")
      r.clearBetween()
      rounds += 1
    }
    val timed = r.execs.filter(_.pass.startsWith("round")).toSeq
    val rel = sum(timed, relational)
    val cur = sum(timed, curation)
    ctx.e2e("batch.relational_s", rel, "s")
    ctx.e2e("batch.curation_s", cur, "s")
    // an op is one query; its latency its median time to a complete result
    ctx.latencies(all.map(median(timed, _) * 1e3))
    ctx.info("rounds", rounds)
    all.foreach(q => ctx.layer(s"q.$q.s", median(timed, q), "s"))

    if (ctx.trace) {
      val tr = ctx.tracer(spark, "batch_sf01")
      val wl = tr.newId()
      val (tracedPass, _) = tr.span("workload", "batch_sf01", 0L, wl) {
        all.map { q =>
          val (e, s) = tr.span("query", q, wl)(r.once(q, "traced"))
          tr.barrier()
          (e, s)
        }
      }
      tr.unregister()
      val querySpans = tracedPass.map { case (e, s) => e.query -> s }
      execGroups.foreach { case (g, qs) =>
        tr.execOf(qs.flatMap(q => querySpans.filter(_._1 == q).map(_._2))).metrics(s"exec.$g")
          .foreach { case (n, v, u) => ctx.layer(n, v, u) }
      }
      ctx.units(tr, querySpans.map(_._2), querySpans.map { case (q, _) => tr.planningMs(q) })
      ctx.reconcile(tr, querySpans.map(_._2))
      ctx.spans(tr)
      // tracing overhead: the traced pass against the mean of the untraced
      // passes just before and just after it, so warm-up drift cancels
      r.clearBetween()
      val before = timed.filter(_.pass == s"round$rounds").map(_.seconds).sum
      val after = r.pass("after").map(_.seconds).sum
      r.clearBetween()
      ctx.layer("trace.overhead_frac",
        tracedPass.map(_._1.seconds).sum / ((before + after) / 2) - 1.0, "ratio")

      // single-thread baseline: one pass on a local[1] session (the JVM's
      // JIT and codegen caches are already warm from the passes above)
      val one = ctx.session(1)
      val r1 = new Runner(one, ctx.dataDir, ctx.ops)
      val single = r1.pass("local1")
      ctx.layer("scaling.batch.relational_s.speedup", sum(single, relational) / rel, "ratio")
      ctx.layer("scaling.batch.curation_s.speedup", sum(single, curation) / cur, "ratio")
      ctx.layer("scaling.speedup", sum(single, all) / (rel + cur), "ratio")
      r.execs ++= r1.execs
    }
    ctx.info("executions", r.execs.map(e => ListMap("query" -> e.query, "pass" -> e.pass,
      "seconds" -> e.seconds, "rows" -> e.rows, "error" -> e.error)))
    ctx.info("oracle_sql", SparkEntry.oracleSql.filter { case (k, _) => all.contains(k) })
  }
}
