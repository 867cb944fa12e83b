package perfbench

import graft.sources.MessageBroker
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream_hop_open`: an open loop at a fixed event rate into a
  * nexmark-q5-shaped hop aggregate, started through the SQL pipeline's
  * streaming DataFrame with a `foreachBatch` receiver and the default
  * trigger. Latency is measured per emitted row from the scheduled
  * creation time of the window's latest event to the receiver.
  */
object Hop {
  val Rate = 20000 // events per second, with margin below saturation
  val Auctions = 1000
  val SlideMs = 2000L
  val WidthMs = 10000L
  val WarmupMs = 12000L
  val Address = "kinesis://local"
  /** The end-of-run backlog may hold this much input before it counts as
    * growing: a little over two triggers' worth at the measured ~0.6 s.
    */
  val BacklogLimitMs = 2000L

  def script(topic: String): String =
    s"""CREATE TABLE bids (auction BIGINT, bidder BIGINT, price BIGINT, ts TIMESTAMP) WITH (
       |  connector='kinesis', stream_name='$topic', format='json', type='source',
       |  event_time_field='ts');
       |SELECT auction, window.start AS ws, count(*) AS n, max(ts) AS last_ts
       |FROM bids GROUP BY auction, hop(interval '2 seconds', interval '10 seconds')""".stripMargin

  /** One thread publishing bids on a fixed schedule that does not slow
    * when Spark slows: event i is due at start + i / rate and is stamped
    * with that due time, not with its send time. It keeps (due time,
    * auction) of every event to derive the expected window counts.
    */
  final class Generator(topic: String, seed: Long, val startMs: Long) extends Thread("perfbench-gen") {
    private val rnd = new java.util.SplittableRandom(seed)
    private val broker = MessageBroker.at(Address)
    val due: mutable.ArrayBuilder.ofLong = new mutable.ArrayBuilder.ofLong
    val auction: mutable.ArrayBuilder.ofInt = new mutable.ArrayBuilder.ofInt
    @volatile var published = 0L
    /** Largest delay of a send behind its schedule, from `lateFromMs` on. */
    @volatile var lateMaxMs = 0L
    @volatile var lateFromMs = Long.MaxValue
    @volatile private var running = true
    setDaemon(true)

    def dueMs(i: Long): Long = startMs + i * 1000L / Rate

    override def run(): Unit = while (running) {
      val now = System.currentTimeMillis()
      val upTo = (now - startMs) * Rate / 1000L
      if (published < upTo && dueMs(published) >= lateFromMs)
        lateMaxMs = math.max(lateMaxMs, now - dueMs(published))
      var i = published
      while (i < upTo) {
        val t = dueMs(i)
        val a = rnd.nextInt(Auctions)
        val v = s"""{"auction":$a,"bidder":${rnd.nextInt(100000)},"price":${1 + rnd.nextInt(10000)},"ts":"${java.time.Instant.ofEpochMilli(t)}"}"""
        broker.publish(topic, null, v.getBytes("UTF-8"))
        due += t
        auction += a
        i += 1
      }
      published = i
      Thread.sleep(1)
    }

    def halt(): Unit = { running = false; join() }
  }

  final case class Got(auction: Long, wsMs: Long, n: Long, lastTsMs: Long, recvMs: Long)

  final case class Outcome(latencies: Seq[Double], receiveMs: Seq[Double], runMs: Double,
      backlogEnd: Long, lateMaxMs: Long, cutMs: Long, queryId: String)

  /** Runs the open loop once: warm-up, then `ctx.seconds` of measurement.
    * Checks every emitted row against the generator's own counts, every
    * window the final watermark closed for presence, and the backlog.
    */
  def once(ctx: Ctx, pass: String, onStart: () => Unit = () => ()): Outcome = {
    val spark = ctx.spark
    MessageBroker.at(Address).clear()
    val topic = s"hop-${ctx.seed}-$pass"
    val t0 = System.nanoTime()
    val df: DataFrame = new graft.sql.Pipeline(spark, streaming = true).run(script(topic))
      .getOrElse(sys.error("hop script returned no DataFrame"))
    val runMs = (System.nanoTime() - t0) / 1e6

    val got = new ConcurrentLinkedQueue[Got]()
    val receiveMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val gen = new Generator(topic, ctx.seed, System.currentTimeMillis() + 200)
    val q: StreamingQuery = df.writeStream.outputMode("append")
      .option("checkpointLocation", ctx.workDir.resolve(s"hop-cp-$pass").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val t = System.nanoTime()
        val rows: Array[Row] = b.collect()
        val recv = System.currentTimeMillis()
        rows.foreach(r => got.add(Got(r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getTimestamp(3).getTime, recv)))
        receiveMs.add((System.nanoTime() - t) / 1e6)
        ()
      }.start()
    gen.start()
    try {
      val cutMs = gen.startMs + WarmupMs
      gen.lateFromMs = cutMs
      sleepUntil(cutMs)
      onStart()
      sleepUntil(cutMs + (ctx.seconds * 1000).toLong)
      gen.halt()
      val progress = q.recentProgress.toSeq
      q.stop()
      val last = progress.lastOption.getOrElse(sys.error("hop query made no progress"))
      val endOffset = last.sources.head.endOffset.trim.toLong
      val backlogEnd = gen.published - endOffset
      ctx.ops.attempt(backlogEnd <= Rate * BacklogLimitMs / 1000,
        s"hop backlog grew: $backlogEnd events unprocessed at the end")
      check(ctx, gen, got.asScala.toSeq, isoMs(last.eventTime.get("watermark")))
      val lat = got.asScala.filter(g => g.wsMs + WidthMs > cutMs)
        .map(g => (g.recvMs - g.lastTsMs).toDouble).toSeq
      Outcome(lat, receiveMs.asScala.map(_.doubleValue).toSeq, runMs, backlogEnd,
        gen.lateMaxMs, cutMs, q.id.toString)
    } finally {
      if (q.isActive) q.stop()
      if (gen.isAlive) gen.halt()
    }
  }

  private def sleepUntil(ms: Long): Unit = {
    var left = ms - System.currentTimeMillis()
    while (left > 0) { Thread.sleep(left); left = ms - System.currentTimeMillis() }
  }

  def isoMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  /** Every emitted row must carry the count the generator produced for its
    * (auction, window), appear once, and every window the last watermark
    * closed must have been emitted. One op per row and per missing window.
    */
  private def check(ctx: Ctx, gen: Generator, got: Seq[Got], watermarkMs: Long): Unit = {
    val due = gen.due.result()
    val auction = gen.auction.result()
    // per (auction, slide bucket) counts; a window is WidthMs/SlideMs buckets
    val buckets = mutable.HashMap.empty[(Int, Long), Long]
    var i = 0
    while (i < due.length) {
      val k = (auction(i), Math.floorDiv(due(i), SlideMs))
      buckets(k) = buckets.getOrElse(k, 0L) + 1
      i += 1
    }
    def expected(a: Long, wsMs: Long): Long =
      (0L until WidthMs / SlideMs).map(j => buckets.getOrElse((a.toInt, wsMs / SlideMs + j), 0L)).sum
    val seen = mutable.HashSet.empty[(Long, Long)]
    got.foreach { g =>
      val e = expected(g.auction, g.wsMs)
      ctx.ops.attempt(g.n == e && seen.add((g.auction, g.wsMs)),
        s"hop row auction=${g.auction} ws=${g.wsMs}: n=${g.n}, expected $e (or emitted twice)")
    }
    val closed = buckets.keys.flatMap { case (a, b) =>
      (0L until WidthMs / SlideMs).map(j => (a.toLong, (b - j) * SlideMs))
    }.filter { case (_, ws) => ws + WidthMs <= watermarkMs }.toSet
    (closed -- seen).foreach { case (a, ws) =>
      ctx.ops.attempt(ok = false, s"hop window auction=$a ws=$ws closed by the watermark but never emitted")
    }
  }

  /** The median latency, after checking that at least ten samples lie
    * beyond the 99th percentile (a failed op otherwise).
    */
  def checkedP50(ctx: Ctx, lat: Seq[Double]): Double = {
    val p99 = Stats.quantile(lat, 0.99)
    ctx.ops.attempt(lat.count(_ > p99) >= 10,
      s"only ${lat.count(_ > p99)} of ${lat.size} latency samples lie beyond p99")
    Stats.median(lat)
  }

  def run(ctx: Ctx): Unit = {
    ctx.session(ctx.cores)
    val timed = once(ctx, "timed", () => ctx.setupDone())
    val p50 = checkedP50(ctx, timed.latencies)
    ctx.latencies(timed.latencies)
    ctx.info("latency_ms", Stats.summary(timed.latencies))
    ctx.info("rate_events_per_s", Rate)
    ctx.info("backlog_end", timed.backlogEnd)
    ctx.info("generator_late_ms_max", timed.lateMaxMs)

    if (ctx.trace) {
      val spark = ctx.spark
      val tr = ctx.tracer(spark, "stream_hop_open")
      val wl = tr.newId()
      val (traced, _) = tr.span("workload", "stream_hop_open", 0L, wl)(once(ctx, "traced"))
      tr.unregister()
      val prog = tr.progress.asScala.map(_.progress).filter(_.id.toString == traced.queryId).toSeq
      val triggers = prog.map { p =>
        val s = Span(tr.newId(), wl, "trigger", s"batch ${p.batchId}",
          isoMs(p.timestamp).toDouble, isoMs(p.timestamp).toDouble + dur(p, "triggerExecution"),
          ListMap("query_id" -> p.id.toString, "batch_id" -> p.batchId,
            "input_rows" -> p.numInputRows))
        tr.add(s)
        p -> s
      }
      val (steady, steadySpans) =
        triggers.filter { case (p, _) => isoMs(p.timestamp) >= traced.cutMs && p.numInputRows > 0 }
          .unzip
      require(steady.nonEmpty, "no trigger with input after the warm-up cut")
      ctx.units(tr, steadySpans, steady.map(dur(_, "queryPlanning")))
      def p50of(f: StreamingQueryProgress => Double) = Stats.median(steady.map(f))
      val m = "streaming.hop"
      ctx.layer(s"$m.trigger_ms", p50of(dur(_, "triggerExecution")), "ms")
      ctx.layer(s"$m.add_batch_ms", p50of(dur(_, "addBatch")), "ms")
      ctx.layer(s"$m.planning_ms", p50of(dur(_, "queryPlanning")), "ms")
      ctx.layer(s"$m.wal_commit_ms", p50of(dur(_, "walCommit")), "ms")
      ctx.layer(s"$m.commit_offsets_ms", p50of(dur(_, "commitOffsets")), "ms")
      ctx.layer(s"$m.state_commit_ms", p50of(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
      ctx.layer(s"$m.watermark_lag_ms",
        p50of(p => (isoMs(p.timestamp) - isoMs(p.eventTime.get("watermark"))).toDouble), "ms")
      ctx.layer(s"$m.triggers", steady.size.toDouble, "count")
      ctx.layer(s"$m.rows_per_trigger", p50of(_.numInputRows.toDouble), "count")
      ctx.layer(s"$m.state_rows", steady.last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
      ctx.layer(s"$m.state_bytes", steady.last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
      ctx.layer(s"$m.state_rows_removed", steady.map(_.stateOperators.map(_.numRowsRemoved).sum).sum.toDouble, "count")
      ctx.layer("sources.hop.latest_offset_ms", p50of(dur(_, "latestOffset")), "ms")
      ctx.layer("sources.hop.backlog_end", traced.backlogEnd.toDouble, "count")
      ctx.layer("sinks.hop.receive_ms", Stats.median(traced.receiveMs), "ms")
      ctx.layer("sql.hop.run_ms", traced.runMs, "ms")
      ctx.layer("gen.hop.late_ms_max", traced.lateMaxMs.toDouble, "ms")
      ctx.spans(tr)
      // tracing overhead: traced p50 against the mean of the untraced runs
      // just before and just after it
      val tp50 = checkedP50(ctx, traced.latencies)
      val ap50 = checkedP50(ctx, once(ctx, "after").latencies)
      ctx.layer("trace.overhead_frac", tp50 / ((p50 + ap50) / 2) - 1.0, "ratio")
      Drain.traced(ctx)
    }
  }

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue)
      .getOrElse(sys.error(s"progress of batch ${p.batchId} has no '$k' duration"))
}
