package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark entry: one workload, one seed, one run.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --result FILE
  *
  * A run = session start, three set-up rounds (fixture generation + a
  * warm-up backlog; the first round opens the store/query), then the
  * measured phases, all on one store/query fed from one document stream:
  *  - trace 0: throughput (drain fixed backlogs, 0.35 S) and open-loop
  *    latency at the workload's fixed rate (0.15 S unsampled warm-up,
  *    then 0.5 S sampled);
  *  - trace 1: untraced drain (0.25 S), open loop (0.15 S + 0.35 S), then
  *    a traced drain (0.25 S, spans + layer counters); tracing overhead
  *    = untraced rate / traced rate - 1. stream_dedup then runs the
  *    analytics queries ([[Analytics]]).
  * `setup_s` runs from JVM start to the end of the last set-up round.
  * Every output is verified at the end, outside the timed windows.
  * The result JSON (last stdout line of run.py) goes to `--result`.
  */
object Main {

  /** `perSec`: median over the drained backlogs of backlog / drain time;
    * `valid`: documents that pass header validation (need a conversion).
    */
  final case class Drained(docs: Int, batches: Int, drainRates: Vector[Double],
                           valid: Int) {
    def perSec: Double = quantile(drainRates, 0.5)
  }

  final case class Looped(latNs: Vector[Long], batchNs: Vector[Long],
                          batchDocs: Vector[Int], backlogMax: Int,
                          lagMeanNs: Double, sent: Int)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0d
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Drains fixed backlogs of `backlog` docs (generated untimed), taken
    * from `stream` at index `from` on, in micro-batches of at most `cap`,
    * until `seconds` pass; at least one backlog.
    */
  def drain(w: Workload, stream: Gen.Stream, from: Int, seconds: Double,
            traced: Boolean, backlog: Int, cap: Int): Drained = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var next = from; var batches = 0; var valid = 0
    val rates = Vector.newBuilder[Double]
    while (next == from || System.nanoTime() < deadline) {
      val docs = (next until next + backlog).map(stream(_))
      next += backlog
      valid += docs.count(_.outcome != Gen.Invalid)
      val t0 = System.nanoTime()
      docs.grouped(cap).foreach { b =>
        Trace.batchId = batches
        w.batch(b, traced)
        batches += 1
      }
      rates += backlog / ((System.nanoTime() - t0) / 1e9)
    }
    Drained(next - from, batches, rates.result(), valid)
  }

  /** Open loop: one generator thread offers documents at `w.rate`; the
    * loop takes everything queued (up to the cap) per micro-batch. Each
    * document's latency runs from its scheduled send to the end of the
    * batch that wrote its result. Documents due in the first `warmS`
    * seconds are processed and checked but not sampled: the loop starts
    * with an empty queue, and that transient takes a few batches to die
    * out.
    */
  def openLoop(w: Workload, stream: Gen.Stream, from: Int, warmS: Double,
               seconds: Double): Looped = {
    val n = math.max(1, (w.rate * (warmS + seconds)).toInt)
    val firstSampled = (w.rate * warmS).toInt
    val docs = (from until from + n).map(stream(_))
    val q = new LinkedBlockingQueue[(Gen.Doc, Long)]()
    val intervalNs = 1e9 / w.rate
    val t0 = System.nanoTime() + 20000000L
    @volatile var lagSum = 0d
    // the loop's first poll waits for a few documents: a one-document
    // batch takes a different (repartitioning) plan
    val firstPoll = t0 + (4 * intervalNs).toLong
    val gen = new Thread(() => {
      var k = 0
      while (k < n) {
        val due = t0 + (k * intervalNs).toLong
        var now = System.nanoTime()
        while (now < due) {
          val d = due - now
          if (d > 1000000L) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
          else Thread.onSpinWait()
          now = System.nanoTime()
        }
        q.put((docs(k), if (k >= firstSampled) due else -due))
        lagSum += (System.nanoTime() - due).toDouble
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val lat = Vector.newBuilder[Long]
    val batchNs = Vector.newBuilder[Long]
    val batchDocs = Vector.newBuilder[Int]
    var got = 0; var backlogMax = 0; var batchId = 0L
    val taken = new java.util.ArrayList[(Gen.Doc, Long)]()
    while (System.nanoTime() < firstPoll) Thread.sleep(1)
    while (got < n) {
      val first = q.poll(100, TimeUnit.MILLISECONDS)
      if (first != null) {
        taken.clear(); taken.add(first)
        backlogMax = math.max(backlogMax, 1 + q.size)
        q.drainTo(taken, w.cap - 1)
        val items = taken.asScala.toVector
        Trace.batchId = batchId
        val b0 = System.nanoTime()
        w.batch(items.map(_._1), traced = false)
        val end = System.nanoTime()
        batchNs += end - b0; batchDocs += items.size
        items.foreach { case (_, due) => if (due > 0) lat += end - due }
        got += items.size; batchId += 1
      }
    }
    gen.join()
    Looped(lat.result(), batchNs.result(), batchDocs.result(), backlogMax,
      lagSum / n, n)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(g => math.max(0L, g.getCollectionTime)).sum

  /** (bytes written through the `file` scheme, counted FS calls, counted
    * file creates).
    */
  private def fsStats: (Long, Long, Long) =
    (org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum,
     FsOps.calls.sum, FsOps.creates.sum)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val result = Paths.get(a("result"))
    require(Set("ingest_local", "ingest_remote", "stream_dedup")(workload),
      s"unknown workload $workload")
    Files.createDirectories(work)
    // before anything caches the `file` file system
    if (traceRun) org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-fs.xml")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w: Workload = workload match {
      case "ingest_local" => new Ingest(spark, remote = false, work, seed, cores)
      case "ingest_remote" => new Ingest(spark, remote = true, work, seed, cores)
      case "stream_dedup" => new Dedup(spark, work)
    }

    // One store (ingest) or one streaming query (dedup) serves the whole
    // run, fed from one document stream; every output is verified once,
    // at the end, outside the timed windows.
    val st = new Gen.Stream(seed, "run")
    var next = 0
    var failed = 0
    var extraAttempts = 0

    // set-up: three rounds of fixture generation + a warm-up backlog; the
    // first round also opens the store/query. setup_s runs from JVM start
    // to the end of the last round.
    val rounds = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      if (r == 0) w.open("run")
      next += drain(w, st, next, 0, traced = false, w.warmup, w.warmupCap).docs
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]

    if (!traceRun) {
      val d = drain(w, st, next, seconds * 0.35, traced = false, w.backlog, w.cap)
      next += d.docs
      val l = openLoop(w, st, next, seconds * 0.15, seconds * 0.5)
      next += l.sent
      failed = w.close()
      val lat = l.latNs.map(_ / 1e6)
      metrics("setup_s") = (setupS, "s")
      metrics("throughput_per_s") = (d.perSec, "1/s")
      metrics("latency_p50_ms") = (quantile(lat, 0.5), "ms")
      metrics("latency_p95_ms") = (quantile(lat, 0.95), "ms")
      notes += f"throughput: ${d.docs} docs in ${d.batches} batches (cap ${w.cap}), " +
        f"median of ${d.drainRates.size} drains of ${w.backlog}"
      notes += f"latency: ${lat.size} samples at ${w.rate}%.0f docs/s offered, " +
        f"${l.batchNs.size} batches"
      notes += "drain rates (docs/s): " + d.drainRates.map(r => f"$r%.1f").mkString(" ")
      notes += "open-loop batches (docs:ms): " + l.batchDocs.zip(l.batchNs)
        .map { case (n, t) => s"$n:${t / 1000000}" }.mkString(" ")
      notes += f"setup: ${setupS}%.3f s = session ${sessionS}%.3f s + rounds (s) " +
        rounds.map(r => f"$r%.3f").mkString(", ")
    } else {
      Counters.reset()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = Counters.jobs.increment()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach { m =>
            Counters.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
            Counters.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
            Counters.taskCpuNs.add(m.executorCpuTime)
          }
      })
      val plain = drain(w, st, next, seconds * 0.25, traced = false, w.backlog, w.cap)
      next += plain.docs
      ListenerDrain(spark.sparkContext)
      val jobsPerBatch = Counters.jobs.sum.toDouble / plain.batches
      val l = openLoop(w, st, next, seconds * 0.15, seconds * 0.35)
      next += l.sent

      Counters.reset(); Trace.clear(); Trace.on = true
      val (bytes0, ops0, creates0) = fsStats
      val traced = drain(w, st, next, seconds * 0.25, traced = true, w.backlog, w.cap)
      next += traced.docs
      val layerExtra = w.layerMetrics(traced.batches)
      Trace.on = false
      val (bytes1, ops1, creates1) = fsStats
      failed = w.close()
      // the analytics layer rides on stream_dedup's traced run: its
      // queries use the same sketch kernels
      val an = if (workload == "stream_dedup") {
        Trace.on = true
        val r = Analytics.run(spark, seed, work)
        Trace.on = false
        failed += r.wrong; extraAttempts += r.checked
        Some(r)
      } else None

      val nb = traced.batches.toDouble
      val spans = Trace.all
      val self = Trace.selfMsByLayer(spans)
      def spanMs(name: String) =
        spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum / nb
      val calls = Counters.callNs.asScala.toVector.map(_.longValue / 1e6)
      val ingest = w.isInstanceOf[Ingest]
      val puts = if (ingest) (creates1 - creates0).toDouble else 0d
      val nCalls = Counters.calls.sum.toDouble

      val base = Map[String, Double](
        "ops.prepare_ms" -> spanMs("prepare"),
        "sinks.incoming_ms" -> spanMs("writeIncoming"),
        "sinks.processed_ms" -> spanMs("writeProcessed"),
        "sinks.failed_ms" -> spanMs("writeFailed"),
        "sinks.puts" -> puts / nb,
        "sinks.bytes_written" -> (if (puts > 0) (bytes1 - bytes0) / nb else 0d),
        "sinks.fs_ops_per_put" -> (if (puts > 0) (ops1 - ops0) / puts else 0d),
        "enrich.calls" -> nCalls / nb,
        "enrich.retries" -> (if (ingest) math.max(0d, nCalls - traced.valid) / nb else 0d),
        "enrich.call_ms_p50" -> quantile(calls, 0.5),
        "enrich.call_ms_p95" -> quantile(calls, 0.95),
        "enrich.fetch_ms" -> Counters.fetchNs.sum / 1e6 / nb,
        "enrich.service_ms" -> Counters.serviceNs.sum / 1e6 / nb,
        "enrich.wire_overhead_ms" ->
          (if (Counters.wireCalls.sum > 0) Counters.wireNs.sum / 1e6 / Counters.wireCalls.sum else 0d),
        "enrich.breaker_open" -> Counters.breakerOpen.sum.toDouble,
        "stream.batch_ms_p50" -> quantile(l.batchNs.map(_ / 1e6), 0.5),
        "stream.batch_ms_p95" -> quantile(l.batchNs.map(_ / 1e6), 0.95),
        "stream.batch_docs_mean" -> l.batchDocs.sum.toDouble / l.batchDocs.size,
        "stream.jobs_per_batch" -> jobsPerBatch,
        "stream.self_ms" -> self.getOrElse("stream", 0d) / nb,
        "stream.backlog_max" -> l.backlogMax.toDouble,
        "stream.generator_lag_ms" -> l.lagMeanNs / 1e6,
        "streaming.add_batch_ms" -> 0d,
        "streaming.wal_commit_ms" -> 0d,
        "streaming.commit_offsets_ms" -> 0d,
        "streaming.state_rows" -> 0d,
        "streaming.state_bytes" -> 0d,
        "streaming.state_commit_ms" -> 0d,
        "streaming.checkpoint_bytes" -> (if (puts > 0) 0d else (bytes1 - bytes0) / nb),
        "spark.gc_s" -> (gcMs - gc0) / 1e3,
        "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576d,
        "self.sinks_ms" -> self.getOrElse("sinks", 0d) / nb,
        "self.enrich_ms" -> self.getOrElse("enrich", 0d) / nb,
        "self.streaming_ms" -> self.getOrElse("streaming", 0d) / nb,
        "trace.overhead_pct" -> (plain.perSec / traced.perSec - 1) * 100) ++
        Analytics.queries.map { case (qid, _) =>
          s"analytics.${qid}_s" -> an.map(_.seconds(qid)).getOrElse(0d) } ++ Map(
        "analytics.shuffle_bytes" -> an.map(_.shuffleBytes).getOrElse(0d),
        "analytics.spill_bytes" -> an.map(_.spillBytes).getOrElse(0d),
        "analytics.task_cpu_s" -> an.map(_.taskCpuS).getOrElse(0d))
      (base ++ layerExtra).toSeq.sortBy(_._1).foreach { case (k, v) =>
        metrics(k) = (v, unitOf(k)) }
      metrics("check.error_rate") = (failed.toDouble / (next + extraAttempts), "ratio")
      val tdir = work.getParent.resolve("traces")
      Files.createDirectories(tdir)
      val tfile = tdir.resolve(s"$workload-seed$seed.json")
      Trace.writeJson(tfile, spans)
      notes += f"traced: ${spans.size} spans in ${traced.batches} batches -> $tfile"
      notes += "self time per batch (ms): " + Seq("stream", "ops", "sinks", "enrich", "streaming")
        .map(k => f"$k=${self.getOrElse(k, 0d) / nb}%.1f").mkString(" ")
      an.foreach { r =>
        notes += f"analytics: ${Analytics.docs} docs, median of ${Analytics.passes} passes: " +
          r.seconds.toSeq.sorted.map { case (q, t) => f"$q=$t%.3f s" }.mkString(" ") +
          f", ${r.checked} query runs checked against the planted pairs, ${r.wrong} wrong"
      }
      notes += f"tracing overhead: untraced ${plain.perSec}%.1f docs/s, " +
        f"traced ${traced.perSec}%.1f docs/s (${(plain.perSec / traced.perSec - 1) * 100}%.1f%%)"
    }
    spark.stop()
    notes.foreach(n => println(s"[perfbench] $workload: $n"))
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    val line = s"""{"correct": ${failed == 0}, "attempted": ${next + extraAttempts}, """ +
      s""""failed": $failed, "metrics": {$body}}"""
    Files.writeString(result, line + "\n")
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("bytes_written") || k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("error_rate")) "ratio"
    else "count"
}
