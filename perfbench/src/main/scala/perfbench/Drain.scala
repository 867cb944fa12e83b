package perfbench

import graft.sources.MessageBroker

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The updating drain: a fixed backlog of bids over skewed auction keys,
  * published in equal chunks. After each chunk one `Pipeline.run` of an
  * updating aggregate drains it into a debezium_json broker sink with a
  * durable checkpoint, so every run restores the state the previous chunk
  * left and emits retract+append pairs. It runs in the traced pass of
  * `stream_hop_open` (see README.md for why it is not a workload of its
  * own).
  */
object Drain {
  val Keys = 100000
  val Chunks = 3
  val ChunkEvents = 250000
  /** Events of the probe run that measures a drain run's fixed cost. */
  val ProbeEvents = 1000
  /** Zipf exponent of the auction-key distribution. */
  val Skew = 1.1
  val SourceAddress = "kinesis://local"
  val SinkAddress = "fluvio://local"

  def sourceDdl(topic: String): String =
    s"""CREATE TABLE bids (auction BIGINT, bidder BIGINT, price BIGINT, ts TIMESTAMP) WITH (
       |  connector='kinesis', stream_name='$topic', format='json', type='source');""".stripMargin

  def script(topic: String, out: String, checkpoint: String): String =
    s"""${sourceDdl(topic)}
       |CREATE TABLE agg (auction BIGINT, n BIGINT, total BIGINT) WITH (
       |  connector='fluvio', topic='$out', format='debezium_json', type='sink',
       |  checkpoint='$checkpoint');
       |INSERT INTO agg SELECT auction, count(*) AS n, sum(price) AS total
       |FROM bids GROUP BY auction""".stripMargin

  /** Cumulative Zipf weights over the key space, sampled by bisection. */
  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(Keys)(k => 1.0 / math.pow(k + 1, Skew))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** The events of one chunk as JSON values, from the seed alone. Key
    * ranks are scrambled so hot keys do not sit next to each other.
    */
  def chunk(seed: Long, rep: String, c: Int, events: Int = ChunkEvents): Array[Array[Byte]] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + (rep, c).hashCode)
    val base = 1700000000000L
    Array.tabulate(events) { i =>
      val rank = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
        case k if k >= 0 => k
        case k => -k - 1
      }
      val auction = (rank.toLong * 2654435761L) % 1000003L
      val ts = java.time.Instant.ofEpochMilli(base + c.toLong * ChunkEvents + i)
      s"""{"auction":$auction,"bidder":${rnd.nextInt(100000)},"price":${1 + rnd.nextInt(10000)},"ts":"$ts"}"""
        .getBytes("UTF-8")
    }
  }

  final case class Rep(chunkMs: Seq[Double], chunkSpans: Seq[Span], probeMs: Option[Double],
      msgsOut: Long, finalKeys: Int, topic: String) {
    def eventsPerS: Double = chunkMs.size.toDouble * ChunkEvents / (chunkMs.sum / 1e3)
  }

  /** One full drain: every chunk published, then drained by its own
    * `Pipeline.run`; then the merged sink output is checked against a
    * batch pipeline over the same topic. Only the runs are timed. With
    * `probe`, one more run drains a chunk of [[ProbeEvents]] events after
    * the last full chunk: its wall time is the fixed cost of a run at the
    * final state size.
    */
  def repetition(ctx: Ctx, rep: String, tracer: Option[(Tracer, Long)] = None,
      chunks: Int = Chunks, probe: Boolean = false): Rep = {
    val spark = ctx.spark
    MessageBroker.at(SourceAddress).clear()
    MessageBroker.at(SinkAddress).clear()
    val topic = s"drain-${ctx.seed}-$rep"
    val out = s"drain-agg-${ctx.seed}-$rep"
    val sql = script(topic, out, ctx.workDir.resolve(s"drain-cp-$rep").toString)
    def run(c: Int, events: Int): (Double, Option[Span]) = {
      val b = MessageBroker.at(SourceAddress)
      chunk(ctx.seed, rep, c, events).foreach(v => b.publish(topic, null, v))
      def drain(): Unit = new graft.sql.Pipeline(spark, streaming = true).run(sql)
      val t0 = System.nanoTime()
      val span = tracer match {
        case Some((tr, parent)) => Some(tr.span("chunk", s"$rep chunk $c", parent)(drain())._2)
        case None => drain(); None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      ctx.ops.attempt(ok = true, "")
      (ms, span)
    }
    val runs = (0 until chunks).map(run(_, ChunkEvents))
    val probeMs = if (probe) Some(run(chunks, ProbeEvents)._1) else None
    val (keys, msgs) = check(ctx, topic, out)
    Rep(runs.map(_._1), runs.flatMap(_._2), probeMs, msgs, keys, topic)
  }

  /** Replays the debezium stream in publish order into per-key (n, total)
    * and compares it with `Pipeline(streaming = false)` over the same
    * events. Returns (final keys, messages out).
    */
  private def check(ctx: Ctx, topic: String, out: String): (Int, Long) = {
    val b = MessageBroker.at(SinkAddress)
    val msgs = b.fetch(out, 0, b.size(out))
    val state = mutable.HashMap.empty[Long, (Long, Long)]
    msgs.foreach { case (_, m) =>
      val j = Json.mapper.readTree(m.value)
      j.get("op").asText() match {
        case "c" | "u" | "r" =>
          val a = j.get("after")
          state(a.get("auction").asLong) = (a.get("n").asLong, a.get("total").asLong)
        case "d" => state.remove(j.get("before").get("auction").asLong)
        case op => sys.error(s"unknown debezium op $op")
      }
    }
    val batch = new graft.sql.Pipeline(ctx.spark, streaming = false).run(
      s"""${sourceDdl(topic)}
         |SELECT auction, count(*) AS n, sum(price) AS total FROM bids GROUP BY auction""".stripMargin)
      .get.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val diff = (batch.keySet ++ state.keySet).count(k => batch.get(k) != state.get(k))
    ctx.ops.attempt(diff == 0,
      s"drain final state differs from the batch result on $diff of ${batch.size} keys")
    (state.size, msgs.size.toLong)
  }

  /** Measures the drain inside another workload's traced pass: a
    * one-chunk warm-up, one untraced drain for the throughput,
    * one traced drain for the per-layer numbers, a batch decode of the
    * same topic, and one drain on a `local[1]` session for the baseline.
    */
  def traced(ctx: Ctx): Unit = {
    repetition(ctx, "warmup", chunks = 1)
    val untraced = repetition(ctx, "untraced", probe = true)
    val eps = untraced.eventsPerS
    ctx.layer("streaming.drain.events_per_s", eps, "ev/s")
    ctx.layer("streaming.drain.run_fixed_ms", untraced.probeMs.get, "ms")
    ctx.info("drain_chunk_ms", untraced.chunkMs)
    val spark = ctx.spark
    val tr = ctx.tracer(spark, "drain")
    val wl = tr.newId()
    val ((traced, decodeMs, rows), _) = tr.span("workload", "drain", 0L, wl) {
      val rep = repetition(ctx, "traced", Some((tr, wl)))
      // a materialized batch read and JSON decode of the same topic
      val (n, decode) = tr.span("query", "decode", wl) {
        val df = new graft.sql.Pipeline(spark, streaming = false)
          .run(s"${sourceDdl(rep.topic)}\nSELECT * FROM bids").get
        Batch.materialize(df, "decode")
      }
      (rep, decode.wallMs, n)
    }
    tr.unregister()
    ctx.ops.attempt(rows == Chunks.toLong * ChunkEvents, s"decode read $rows rows")
    val prog = tr.progress.asScala.map(_.progress).toSeq
    // every chunk's run restarts the same query from the checkpoint, so
    // the query id alone does not tell the chunks apart; the batch id does
    val chunkOfBatch = mutable.HashMap.empty[(String, Long), Long]
    tr.jobs.values().asScala.foreach(j =>
      if (j.streamQueryId != null) chunkOfBatch((j.streamQueryId, j.batchId)) = j.parentSpan)
    prog.foreach { p =>
      val start = Hop.isoMs(p.timestamp).toDouble
      tr.add(Span(tr.newId(), chunkOfBatch.getOrElse((p.id.toString, p.batchId), wl), "trigger",
        s"batch ${p.batchId}", start, start + Hop.dur(p, "triggerExecution"),
        ListMap("query_id" -> p.id.toString, "batch_id" -> p.batchId,
          "input_rows" -> p.numInputRows)))
    }
    val m = "streaming.drain"
    def total(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) = prog.map(f).sum
    ctx.layer(s"$m.triggers", prog.size.toDouble, "count")
    ctx.layer(s"$m.add_batch_ms", total(Hop.dur(_, "addBatch")), "ms")
    ctx.layer(s"$m.planning_ms", total(Hop.dur(_, "queryPlanning")), "ms")
    ctx.layer(s"$m.state_update_ms", total(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble), "ms")
    ctx.layer(s"$m.state_commit_ms", total(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    val last = prog.lastOption.getOrElse(sys.error("drain made no progress"))
    ctx.layer(s"$m.state_rows", last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
    ctx.layer(s"$m.state_bytes", last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    val triggerMs = total(Hop.dur(_, "triggerExecution"))
    ctx.layer("sql.drain.run_overhead_ms", (traced.chunkMs.sum - triggerMs) / Chunks, "ms")
    ctx.layer("formats.drain.decode_eps", rows / (decodeMs / 1e3), "ev/s")
    ctx.layer("sinks.drain.msgs_out", traced.msgsOut.toDouble, "count")
    ctx.layer("sinks.drain.msgs_per_key", traced.msgsOut.toDouble / traced.finalKeys, "ratio")
    val ex = tr.execOf(traced.chunkSpans)
    ctx.layer("exec.drain.shuffle_write_mb", ex.shuffleWriteBytes / 1048576.0, "MB")
    ctx.layer("exec.drain.task_skew", ex.taskSkew, "ratio")
    ctx.layer("exec.drain.executor_cpu_s", ex.cpuNs / 1e9, "s")
    ctx.layer("exec.drain.core_util", ex.coreUtil, "ratio")
    ctx.reconcile(tr, traced.chunkSpans)
    ctx.spans(tr)

    // single-thread baseline: one drain on a local[1] session
    ctx.session(1)
    val single = repetition(ctx, "local1")
    ctx.layer("scaling.speedup", eps / single.eventsPerS, "ratio")
  }
}
