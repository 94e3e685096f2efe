package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.Tables
import graft.ml.{Artifacts, Ensemble}
import graft.streaming.ScoreStream
import Main.{Run, nowNs, timedMs}

/** serve_stream: per-transaction scoring as events arrive. A bundle is
  * fitted on a seeded training table and saved; each set-up loads it,
  * starts `ScoreStream.scoredWithModels` over a `MemoryStream` into a
  * per-batch-id parquet sink, and waits for a warm-up batch to commit.
  * Then one generator thread feeds the seeded event sequence open-loop
  * at a fixed rate; each event is timed from when it was due to be sent
  * to when the sink write of its micro-batch returned. */
object Serve {
  type Ev = (Long, Timestamp, Long, String, Double, String)

  private def events(spark: SparkSession, dir: String): (Array[Ev], Array[Boolean]) = {
    val rows = Tables.events(spark, dir).orderBy("seq").collect()
    (rows.map(r => (r.getLong(r.fieldIndex("event_id")), r.getTimestamp(r.fieldIndex("ts")),
        r.getLong(r.fieldIndex("user_id")), r.getString(r.fieldIndex("event_type")),
        r.getDouble(r.fieldIndex("value")), r.getString(r.fieldIndex("props")))),
      rows.map(r => r.getBoolean(r.fieldIndex("is_dup"))))
  }

  final class Query(val q: StreamingQuery, val mem: MemoryStream[Ev],
                    val commitNs: ConcurrentHashMap[Long, Long], val model: Ensemble.Fitted)

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlc = spark.sqlContext
    val t = r.tracer
    val bundle = s"${r.dir}/bundle"
    Artifacts.saveEnsemble(Ensemble.fit(spark, s"${r.in}/train"), bundle)
    val (warm, _) = events(spark, s"${r.in}/warmup")
    val (evs, isDup) = events(spark, s"${r.in}/stream")
    val rate = r.params("rate")

    def start(i: Int): Query = {
      val model = t.span("artifacts.load")(Artifacts.loadEnsemble(spark, bundle))
      val mem = MemoryStream[Ev]
      val commits = new ConcurrentHashMap[Long, Long]()
      val outDir = s"${r.dir}/stream$i"
      def sink(batch: DataFrame, id: Long): Unit = {
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        commits.put(id, nowNs)
      }
      val q = t.span("stream.start") {
        ScoreStream.scoredWithModels(
            mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"), model)
          .writeStream.foreachBatch(sink _)
          .option("checkpointLocation", s"${r.dir}/ckpt$i").start()
      }
      mem.addData(warm.toSeq)
      t.span("stream.warmup")(q.processAllAvailable())
      new Query(q, mem, commits, model)
    }

    if (r.traced) r.tracer.enable()
    val setups = 3
    val setupMs = mutable.ArrayBuffer.empty[Double]
    var live: Query = null
    for (i <- 0 until setups) {
      val (sq, ms) = timedMs(t.span("setup")(start(i)))
      setupMs += ms
      if (i < setups - 1) sq.q.stop() else live = sq
    }
    r.e2e("setup_s") = Stats.median(setupMs.toSeq) / 1e3
    r.details("setup_ms") = setupMs.toSeq
    r.details("uptime_setup_done_s") = Main.uptimeS()
    // engine counters cover the traced seconds only: the listener is off
    // in the others
    val e0 = if (r.traced) r.tracer.engine.snapshot(spark) else null
    if (r.traced) r.tracer.disable()

    // open-loop generator: event j is due at t0 + j / rate. The first
    // warm_s seconds at the rate are untimed: the first batch after an
    // idle stream holds one event, the next a pile-up, and the per-row
    // code is still being compiled
    val warmS = r.params("warm_s")
    val spanS = warmS + r.seconds
    val t0 = nowNs + 20000000L
    val endNs = t0 + (spanS * 1e9).toLong
    val sends = mutable.ArrayBuffer.empty[(Long, Int, Int, Long)] // offset, from, until, sentNs
    val rampNs = t0 + (warmS * 1e9).toLong
    val t0WallMs = System.currentTimeMillis() + (t0 - nowNs) / 1000000L
    // a traced run traces every other second of the window (odd ones), so
    // the latency difference between the two is the tracing overhead
    def tracedSecond(ns: Long): Boolean = r.traced && ((ns - t0) / 1000000000L) % 2 == 1
    def sleepUntil(ns: Long): Unit = while (nowNs < ns) Thread.sleep(1)
    val toggler = new Thread(() => {
      var k = 1L
      while (t0 + k * 1000000000L < endNs) {
        sleepUntil(t0 + k * 1000000000L)
        if (k % 2 == 1) r.tracer.enable()
        else { r.tracer.engine.snapshot(spark); r.tracer.disable() }
        k += 1
      }
      sleepUntil(endNs)
      r.tracer.engine.snapshot(spark)
      r.tracer.disable()
    }, "perfbench-trace-toggle")
    val tracedWallS = (0L until math.ceil(spanS).toLong).filter(_ % 2 == 1)
      .map(k => math.min(1.0, spanS - k)).sum
    val gen = new Thread(() => {
      var k = 0
      while (nowNs < endNs && k < evs.length) {
        val now = nowNs
        val due = math.min(evs.length.toLong, ((now - t0) * rate / 1e9).toLong + 1).toInt
        if (due > k) {
          val off = live.mem.addData(evs.slice(k, due).toSeq)
          sends.synchronized { sends += ((offsetOf(off.json), k, due, nowNs)) }
          k = due
        }
        Thread.sleep(5)
      }
    }, "perfbench-generator")
    sleepUntil(t0)
    gen.start()
    if (r.traced) toggler.start()
    gen.join()
    if (r.traced) toggler.join()
    live.q.processAllAvailable()
    live.q.stop()
    r.details("uptime_loop_done_s") = Main.uptimeS()
    val sent = sends.synchronized(sends.toList)
    val nSent = sent.lastOption.map(_._3).getOrElse(0)
    require(nSent > 0, "the generator sent no events")

    // map each send (a MemoryStream offset) to the first batch covering it
    val progress: Seq[StreamingQueryProgress] = live.q.recentProgress.toSeq.sortBy(_.batchId)
    val batchEnds = progress.map(p => (p.batchId, offsetOf(p.sources(0).endOffset)))
    val latMs = mutable.ArrayBuffer.empty[Double]
    val latTraced, latPlain = mutable.ArrayBuffer.empty[Double]
    var lateMaxMs = 0.0
    var missing = 0L
    val commitOfSend = sent.map { case (off, from, until, sentNs) =>
      val c = batchEnds.find(_._2 >= off).flatMap(b => Option(live.commitNs.get(b._1)))
      (from until until).foreach { j =>
        val dueNs = t0 + (j * 1e9 / rate).toLong
        lateMaxMs = math.max(lateMaxMs, (sentNs - dueNs) / 1e6)
        if (!isDup(j)) c match {
          case Some(cNs) =>
            val ms = (cNs - dueNs) / 1e6
            if (dueNs >= rampNs) {
              latMs += ms
              (if (tracedSecond(dueNs)) latTraced else latPlain) += ms
            }
          case None => missing += 1
        }
      }
      (sentNs, until, c.getOrElse(Long.MaxValue))
    }
    // backlog: events sent but not yet committed, at each send
    val backlog = commitOfSend.map { case (sNs, sentSoFar, _) =>
      sentSoFar - commitOfSend.filter(_._3 <= sNs).map(_._2).lastOption.getOrElse(0)
    }
    val data = progress.filter(p => p.numInputRows > 0 && p.batchId > 0)
    val busyS = data.map(_.batchDuration).sum / 1e3
    r.attempted = nSent
    r.failed = missing
    val lat = latMs.toSeq
    r.e2e("latency_p50_ms") = Stats.median(lat)
    r.e2e("rows_per_s") = data.map(_.numInputRows).sum / busyS
    r.details("serve_p50_ms") = Stats.median(lat)
    Stats.tail(lat).foreach { case (l, v) => r.details(s"serve_${l}_ms") = v }
    r.details("latency_samples") = lat.size
    r.details("rate_eps") = rate
    r.details("events_sent") = nSent
    r.details("batches") = data.size

    if (r.traced) {
      r.layers("trace.overhead_ms") = Stats.median(latTraced.toSeq) - Stats.median(latPlain.toSeq)
      def med(f: StreamingQueryProgress => Double) = Stats.median(data.map(f))
      def dur(k: String)(p: StreamingQueryProgress) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val d = r.tracer.engine.snapshot(spark) - e0
      val tracedBatches = data.count { p =>
        val ms = java.time.Instant.parse(p.timestamp).toEpochMilli - t0WallMs
        ms >= 0 && (ms / 1000) % 2 == 1
      }.max(1).toDouble
      r.layers("spark.jobs") = d.jobs / tracedBatches
      r.layers("spark.stages") = d.stages / tracedBatches
      r.layers("spark.tasks") = d.tasks / tracedBatches
      r.layers("spark.single_task_stage_s") = d.singleTaskStageNs / 1e9 / tracedBatches
      r.layers("spark.executor_run_s") = d.executorRunNs / 1e9 / tracedBatches
      r.layers("spark.core_busy_share") = d.executorRunNs / 1e9 / (tracedWallS * Main.Cores)
      r.layers("spark.shuffle_write_bytes") = d.shuffleWriteBytes / tracedBatches
      r.layers("spark.spill_bytes") = d.spillBytes / tracedBatches
      r.layers("sources.input_rows") = nSent.toDouble
      r.layers("stream.batches") = data.size
      r.layers("stream.rows_per_batch") = med(_.numInputRows.toDouble)
      r.layers("stream.batch_ms") = med(_.batchDuration.toDouble)
      r.layers("stream.add_batch_ms") = med(dur("addBatch"))
      r.layers("stream.get_batch_ms") = med(dur("getBatch"))
      r.layers("stream.query_planning_ms") = med(dur("queryPlanning"))
      r.layers("stream.wal_commit_ms") = med(dur("walCommit"))
      val last = progress.last.stateOperators
      r.layers("stream.state_rows") = last.map(_.numRowsTotal).sum.toDouble
      r.layers("stream.state_bytes") = last.map(_.memoryUsedBytes).sum.toDouble
      r.layers("stream.dups_dropped") =
        data.flatMap(_.stateOperators).map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.doubleValue).getOrElse(0.0)).sum
      r.layers("stream.backlog_max") = backlog.max.toDouble
      r.layers("gen.late_ms_max") = lateMaxMs
      r.layers("artifacts.load_s") = t.medianMs("artifacts.load") / 1e3
      r.details("stream_progress") = progress.map(_.json)
    }

    // the batch answer for the same distinct events and the same bundle
    val firstSends = (0 until nSent).filterNot(isDup).map(evs)
    Ensemble.scoreBatch((warm.toSeq ++ firstSends).toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props"), live.model)
      .write.mode("overwrite").parquet(s"${r.out}/batch_ref")
    java.nio.file.Files.move(java.nio.file.Paths.get(s"${r.dir}/stream${setups - 1}"),
      java.nio.file.Paths.get(s"${r.out}/stream"))
    r.details("sent_count") = nSent
  }

  /** A MemoryStream offset as JSON (`"17"`) to a number; -1 for none. */
  private def offsetOf(json: String): Long =
    Option(json).map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.forall(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
}
