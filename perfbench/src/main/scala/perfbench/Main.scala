package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Pipelines, SparkEntry, Tables}
import graft.ml.{Artifacts, Ensemble, Features, IsolationForest, Lof, PcaRecon}
import graft.operators.{Dedup, Profiles}
import graft.sources.Sources

/** One benchmark run inside one JVM: set up, time the workload's
  * operation for `--seconds`, and write `result.json` (metrics, counts)
  * plus the outputs the checker reads back into `--dir`. Inputs are read
  * from `<dir>/in`, written there beforehand by the seeded generator.
  *
  * With `--trace 1` the run alternates untraced and traced operations
  * (the difference is the tracing overhead) and then times each layer on
  * its own. */
object Main {
  /** Spark runs as local[Cores]: 4 unless `--cores` asks for another
    * (1 gives the single-thread baseline). */
  var Cores = 4

  final class Run(val spark: SparkSession, val dir: String, val seconds: Double,
                  val traced: Boolean) {
    val tracer = new Tracer(spark)
    val in = s"$dir/in"
    val out = s"$dir/out"
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val details = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val params: Map[String, Double] = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(Paths.get(s"$in/params.json")))
      node.fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("dir")
    Cores = a.get("cores").map(_.toInt).getOrElse(Cores)
    val t0 = uptimeS()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new Run(spark, dir, a("seconds").toDouble, a("trace") == "1")
    r.details("uptime_main_s") = t0
    r.details("uptime_session_s") = uptimeS()
    a("workload") match {
      case "train_score_batch" => trainScoreBatch(r)
      case "gateway_csv"       => gatewayCsv(r)
      case "corpus_dedup"      => corpusDedup(r)
      case "serve_stream"      => Serve.run(r)
      case w                   => sys.error(s"unknown workload $w")
    }
    r.e2e("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(s"$dir/result.json"), Json(Map(
      "attempted" -> r.attempted, "failed" -> r.failed,
      "end_to_end" -> r.e2e, "per_layer" -> r.layers, "details" -> r.details)))
    if (r.traced) Files.writeString(Paths.get(s"$dir/trace.json"), Json(Map(
      "spans" -> r.tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "self_ms" -> r.tracer.selfTimes.map { case (n, t, s) =>
        Map("name" -> n, "total_ms" -> t, "self_ms" -> s) })))
    spark.stop()
  }

  // ---- shared timing --------------------------------------------------

  def nowNs: Long = System.nanoTime()

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = nowNs
    val v = body
    (v, (nowNs - t0) / 1e6)
  }

  /** Runs `op` in whole rounds until `seconds` have passed; op times (ms). */
  def loop(seconds: Double)(op: => Unit): Seq[Double] = {
    val end = nowNs + (seconds * 1e9).toLong
    val buf = mutable.ArrayBuffer.empty[Double]
    do buf += timedMs(op)._2 while (nowNs < end)
    buf.toSeq
  }

  def uptimeS(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall time and engine-counter delta of `body`, with the listener on. */
  def measured(r: Run)(body: => Unit): (Double, Engine) = {
    val e0 = r.tracer.engine.snapshot(r.spark)
    body
    val d = r.tracer.engine.snapshot(r.spark) - e0
    (d.wallS, d)
  }

  def dirBytesFiles(path: String): (Long, Long) = {
    val fs = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    (fs.map(Files.size).sum, fs.size.toLong)
  }

  /** The frame for a sink measurement: materialized first so the write is
    * all that is timed. */
  def sinkWriteS(df: DataFrame, path: String): Double = {
    val m = df.localCheckpoint()
    timedMs(m.write.mode("overwrite").parquet(path))._2 / 1e3
  }

  /** The common shape of the three batch workloads: `setups` timed
    * set-ups, two untimed warm-up operations, then the operation in whole
    * rounds until the run's seconds have passed. A traced run alternates
    * untraced and traced operations, so the difference of their medians
    * is the tracing overhead whatever the warm-up trend; its engine
    * metrics are per traced operation. */
  def batchWorkload(r: Run, setups: Int, rowsPerOp: Long,
                    setup: Int => Unit, op: () => Unit): Unit = {
    if (r.traced) r.tracer.enable()
    r.details("uptime_ready_s") = uptimeS()
    val setupMs = (0 until setups).map(i => timedMs(r.tracer.span("setup")(setup(i)))._2)
    r.e2e("setup_s") = Stats.median(setupMs) / 1e3
    r.details("setup_ms") = setupMs
    // the first operations on the full input compile and JIT its plans:
    // untimed
    r.details("warm_op_ms") = Seq.fill(2)(timedMs(op())._2)
    r.details("uptime_setup_done_s") = uptimeS()
    val opsMs =
      if (!r.traced) loop(r.seconds)(op())
      else {
        r.tracer.disable()
        val plain, traced = mutable.ArrayBuffer.empty[Double]
        var d = Engine.zero
        val end = nowNs + (r.seconds * 1e9).toLong
        do {
          if (plain.size > traced.size) {
            r.tracer.enable()
            val e0 = r.tracer.engine.snapshot(r.spark)
            traced += timedMs(r.tracer.span("op")(op()))._2
            d = d + (r.tracer.engine.snapshot(r.spark) - e0)
            r.tracer.disable()
          } else plain += timedMs(op())._2
        } while (nowNs < end)
        val n = traced.size.max(1).toDouble
        r.layers("trace.overhead_ms") = Stats.median(traced.toSeq) - Stats.median(plain.toSeq)
        r.layers("spark.jobs") = d.jobs / n
        r.layers("spark.stages") = d.stages / n
        r.layers("spark.tasks") = d.tasks / n
        r.layers("spark.single_task_stage_s") = d.singleTaskStageNs / 1e9 / n
        r.layers("spark.executor_run_s") = d.executorRunNs / 1e9 / n
        r.layers("spark.core_busy_share") = d.executorRunNs / 1e9 / (d.wallS * Cores)
        r.layers("spark.shuffle_write_bytes") = d.shuffleWriteBytes / n
        r.layers("spark.spill_bytes") = d.spillBytes / n
        r.layers("sources.input_rows") = rowsPerOp.toDouble
        r.layers("sources.scan_passes") = d.recordsRead / n / rowsPerOp
        r.details("traced_op_ms") = traced.toSeq
        r.tracer.enable() // for the layer timings that follow
        (plain ++ traced).toSeq
      }
    r.details("uptime_loop_done_s") = uptimeS()
    r.attempted = opsMs.size
    r.e2e("latency_p50_ms") = Stats.median(opsMs)
    r.e2e("rows_per_s") = rowsPerOp / (Stats.median(opsMs) / 1e3)
    r.details("op_ms") = opsMs
    r.details("rows_per_op") = rowsPerOp
  }

  // ---- train_score_batch ---------------------------------------------

  /** train.py then batch /score: fit + bundle save + load is the set-up
    * (so `setup_s` is the training time); the timed operation scores
    * every row, orders by transaction id and writes parquet. */
  def trainScoreBatch(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    val rows = r.params("rows").toLong
    var model: Ensemble.Fitted = null
    def setup(i: Int): Unit = {
      val fitted = t.span("ensemble.fit")(Ensemble.fit(spark, r.in))
      val bundle = s"${r.dir}/bundle$i"
      t.span("artifacts.save")(Artifacts.saveEnsemble(fitted, bundle))
      model = t.span("artifacts.load")(Artifacts.loadEnsemble(spark, bundle))
    }
    def op(): Unit =
      Ensemble.scoreBatch(Tables.events(spark, r.in), model)
        .orderBy("transaction_id")
        .write.mode("overwrite").parquet(s"${r.out}/scored")
    batchWorkload(r, setups = 3, rowsPerOp = rows, setup, () => op())
    r.details("train_s") = r.e2e("setup_s")
    r.details("score_rows_per_s") = r.e2e("rows_per_s")
    if (r.traced) {
      r.layers("ensemble.fit_s") = t.medianMs("ensemble.fit") / 1e3
      r.layers("artifacts.save_s") = t.medianMs("artifacts.save") / 1e3
      r.layers("artifacts.load_s") = t.medianMs("artifacts.load") / 1e3
      r.layers("ensemble.score_passes") = r.layers("sources.scan_passes")
      val (prepS, prepE) = measured(r) {
        t.span("features.prep") {
          val (_, feats) = Features.preprocessedEvents(spark, r.in)
          noop(feats)
        }
      }
      r.layers("features.prep_s") = prepS
      r.layers("features.scan_passes") = prepE.recordsRead.toDouble / rows
      val (_, feats) = Features.preprocessedEvents(spark, r.in)
      val f = feats.localCheckpoint()
      val cfg = model.cfg
      r.layers("iforest.fit_s") = timedMs(t.span("iforest.fit")(
        IsolationForest.fit(f, "features", cfg.nTrees, cfg.subsample, cfg.contamination,
          cfg.seed)))._2 / 1e3
      r.layers("lof.fit_s") = timedMs(t.span("lof.fit")(
        Lof.fitNovelty(f, "event_id", "features", cfg.lofK, cfg.lofRefPoints)))._2 / 1e3
      r.layers("pca.fit_s") = timedMs(t.span("pca.fit")(
        PcaRecon.fit(f, "features", cfg.pcaK)))._2 / 1e3
      r.layers("ensemble.score_s") = timedMs(t.span("ensemble.score")(
        noop(Ensemble.scoreBatch(Tables.events(spark, r.in), model))))._2 / 1e3
      r.layers("sources.sink_write_s") = sinkWriteS(
        Ensemble.scoreBatch(Tables.events(spark, r.in), model), s"${r.dir}/sinkprobe")
      val (bytes, files) = dirBytesFiles(s"${r.out}/scored")
      r.layers("sources.sink_bytes") = bytes.toDouble
      r.layers("sources.sink_files") = files.toDouble
    }
  }

  // ---- gateway_csv ----------------------------------------------------

  /** The rules-only gateway fallback: CSV ingest, profile aggregate,
    * rules, deviation, fusion and risk, one parquet write. The set-up is
    * the same operation over a small warm-up CSV (plan, codegen, job). */
  def gatewayCsv(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    def score(csv: String, to: String): Unit =
      Pipelines.scoreTransactions(Sources.transactionsCsv(spark, csv))
        .write.mode("overwrite").parquet(to)
    val csv = s"${r.in}/transactions.csv"
    val rows = r.params("rows").toLong
    batchWorkload(r, setups = 3, rowsPerOp = rows,
      i => score(s"${r.in}/warmup.csv", s"${r.dir}/warmup$i"),
      () => score(csv, s"${r.out}/scored"))
    r.details("gateway_rows_per_s") = r.e2e("rows_per_s")
    if (r.traced) {
      r.layers("sources.csv_read_s") = timedMs(t.span("sources.csv_read")(
        noop(Sources.transactionsCsv(spark, csv))))._2 / 1e3
      val (aggS, aggE) = measured(r)(t.span("profiles.agg")(noop(
        Profiles.customerProfileFull(Sources.transactionsCsv(spark, csv), "customer_id", "amount"))))
      r.layers("profiles.agg_s") = aggS
      r.layers("profiles.shuffle_bytes") = aggE.shuffleWriteBytes.toDouble
      r.layers("gateway.score_s") = timedMs(t.span("gateway.score")(
        noop(Pipelines.scoreTransactions(Sources.transactionsCsv(spark, csv)))))._2 / 1e3
      r.layers("sources.sink_write_s") = sinkWriteS(
        Pipelines.scoreTransactions(Sources.transactionsCsv(spark, csv)), s"${r.dir}/sinkprobe")
      val (bytes, files) = dirBytesFiles(s"${r.out}/scored")
      r.layers("sources.sink_bytes") = bytes.toDouble
      r.layers("sources.sink_files") = files.toDouble
    }
  }

  // ---- corpus_dedup ---------------------------------------------------

  /** Near-duplicate removal over a corpus: the declared `q_corpus_dedup`
    * query (MinHash pairs with portable md5 hashing, connected components,
    * anti join), written to parquet. The set-up runs it over a small
    * warm-up corpus. */
  def corpusDedup(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    val query = SparkEntry.queries("q_corpus_dedup")
    Files.writeString(Paths.get(s"${r.dir}/oracle.sql"), SparkEntry.oracleSql("q_corpus_dedup"))
    val docs = r.params("docs").toLong
    batchWorkload(r, setups = 3, rowsPerOp = docs,
      i => query(spark, s"${r.in}/warmup").write.mode("overwrite").parquet(s"${r.dir}/warmup$i"),
      () => query(spark, r.in).write.mode("overwrite").parquet(s"${r.out}/deduped"))
    r.details("dedup_docs_per_s") = r.e2e("rows_per_s")
    if (r.traced) {
      // the declared query's parameters (numHashes, bands, threshold,
      // bucket cap, stop-shingle share), called layer by layer
      val corpus = Tables.documents(spark, r.in)
      val p = Dedup.minhashPairs(corpus, "doc_id", "text", numHashes = 16, bands = 8,
        threshold = 0.1, portableMd5 = true, bandBucketCap = 512, stopShingleDfFrac = Some(0.5))
      r.layers("dedup.pairs_s") = timedMs(t.span("dedup.pairs")(p.collect()))._2 / 1e3
      val (cands, verified) = PlanMetrics.candidateAndVerified(p)
      r.layers("dedup.candidate_pairs") = cands.toDouble
      r.layers("dedup.verified_pairs") = verified.toDouble
      r.layers("dedup.verify_yield") = if (cands > 0) verified.toDouble / cands else 0.0
      val mp = p.localCheckpoint()
      r.layers("dedup.cc_s") = timedMs(t.span("dedup.cc")(
        noop(Dedup.connectedComponents(mp, "doc_a", "doc_b"))))._2 / 1e3
      val (bytes, files) = dirBytesFiles(s"${r.out}/deduped")
      r.layers("sources.sink_bytes") = bytes.toDouble
      r.layers("sources.sink_files") = files.toDouble
    }
  }
}
