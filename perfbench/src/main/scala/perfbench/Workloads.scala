package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.enrich.{BreakerConfig, DoclingClient, ExtractingDocling,
  HttpDocling, HttpDoclingConfig, RetryPolicy}
import graft.ops.Envelope
import graft.sinks.ObjectStore
import graft.stream.{FilePipeline, PipelineConfig}
import graft.streaming.StreamingMinhashDedup

/** What a workload does with one micro-batch of generated documents.
  * `open`/`close` bracket one run (fresh output directory or fresh
  * streaming query); `close` verifies every output against the
  * generator's expectation and returns the number of wrong outcomes.
  */
trait Workload {
  /** Micro-batch cap: the most documents one batch takes. */
  def cap: Int
  /** Documents in one fixed backlog of the throughput phase. */
  def backlog: Int
  /** Documents per set-up round (fixture generation + warm-up), pushed
    * in micro-batches of `warmupCap`.
    */
  def warmup: Int
  def warmupCap: Int
  /** Offered rate of the open-loop latency phase, docs/s. */
  def rate: Double
  def open(tag: String): Unit
  def batch(docs: IndexedSeq[Gen.Doc], traced: Boolean): Unit
  def close(): Int
  /** Layer metrics only this workload has, for the traced phase. */
  def layerMetrics(batches: Int): Map[String, Double] = Map.empty
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  /** Regular files under `root`, keyed by their last two path segments
    * (`correlationId/name`): keys are unique per document.
    */
  def filesByDocKey(root: Path): Map[String, Path] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        s"${p.getParent.getFileName}/${p.getFileName}" -> p
      }.toMap
      finally s.close()
    }

  /** A top-level JSON string field, unescaped. */
  def jsonField(json: String, name: String): Option[String] = {
    val k = "\"" + name + "\":\""
    val at = json.indexOf(k)
    if (at < 0) return None
    val sb = new StringBuilder
    var i = at + k.length
    while (i < json.length) {
      json(i) match {
        case '"' => return Some(sb.toString)
        case '\\' =>
          json(i + 1) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
              i += 4
            case c => sb.append(c)
          }
          i += 2
        case c => sb.append(c); i += 1
      }
    }
    None
  }
}

/** ingest_local / ingest_remote: Kafka wire rows → `Envelope.fromKafka`
  * → `FilePipeline.runBatch` into a local object-store directory, with
  * the in-process `ExtractingDocling` (local) or `HttpDocling` against a
  * localhost stub (remote). Traced batches call the same public stages
  * one by one (prepare, writeIncoming, enrich, writeProcessed,
  * writeFailed) so each gets a span.
  */
final class Ingest(spark: SparkSession, remote: Boolean, work: Path,
                   seed: Long, cores: Int) extends Workload {
  val cap = 125
  val backlog = 125
  /** Small warm-up batches: the open loop runs batches of ~10 docs, whose
    * cost is the per-batch path (planning, job scheduling), so that path
    * is what needs warming.
    */
  val warmup = 100
  val warmupCap = 25
  val rate: Double = if (remote) Settings.remoteRate else Settings.localRate

  private val cfg = PipelineConfig(
    retry = Settings.retry, breaker = Settings.breaker, breakerName = "perfbench")
  private var outDir: Path = _
  private var client: DoclingClient = _
  private var stub: Stub = _
  private val fed = mutable.ArrayBuffer.empty[Gen.Doc]

  def open(tag: String): Unit = {
    outDir = work.resolve(s"store-$tag")
    Io.deleteTree(outDir)
    Files.createDirectories(outDir)
    fed.clear()
    client =
      if (remote) {
        stub = new Stub(outDir.toString, seed, Settings.serviceMs,
          Settings.flakyShare, cores)
        new TimedDocling(new HttpDocling(HttpDoclingConfig(stub.endpoint,
          connectTimeoutMs = 5000L, requestTimeoutMs = 20000L)), remote = true)
      } else
        new TimedDocling(new ExtractingDocling(FetchFn(outDir.toString)),
          remote = false)
  }

  private def envelope(docs: IndexedSeq[Gen.Doc]): DataFrame =
    Envelope.fromKafka(spark.createDataFrame(
      docs.map(Gen.kafkaRow(_, cores)).asJava, Envelope.kafkaSchema))

  def batch(docs: IndexedSeq[Gen.Doc], traced: Boolean): Unit = {
    val env = envelope(docs)
    if (traced) staged(env)
    else FilePipeline.runBatch(env, outDir.toString, client, cfg)
    fed ++= docs
  }

  /** runBatch's stages as separate public calls, one span each. Each
    * lazy stage is materialised inside its own span (persist + count)
    * so its work is not billed to the next stage's write.
    */
  private def staged(env: DataFrame): Unit =
    Trace.span("runBatch", "stream", -1L) { b =>
      val base = outDir.toString
      val (valid, invalid) = Trace.span("prepare", "ops", b) { _ =>
        val (v, i) = FilePipeline.prepare(env, cfg)
        v.persist().count()
        (v, i)
      }
      try {
        Trace.span("writeIncoming", "sinks", b)(_ => ObjectStore.writeIncoming(valid, base))
        val enriched = Trace.span("enrich", "enrich", b) { id =>
          Trace.stageParent = id
          val e = FilePipeline.enrich(valid, client, cfg).persist()
          e.count()
          Trace.stageParent = -1L
          e
        }
        try {
          val (ok, failed) = FilePipeline.route(enriched)
          Trace.span("writeProcessed", "sinks", b)(_ =>
            ObjectStore.writeProcessed(ok.toDF(), base))
          Trace.span("writeFailed", "sinks", b)(_ =>
            ObjectStore.writeFailed(FilePipeline.dlqReports(failed.toDF(), invalid), base))
        } finally enriched.unpersist()
      } finally valid.unpersist()
    }

  def close(): Int = {
    if (stub != null) { stub.stop(); stub = null }
    val processed = Io.filesByDocKey(outDir.resolve("processed"))
    val failed = Io.filesByDocKey(outDir.resolve("failed"))
    var wrong = 0
    var expectOk = 0
    fed.foreach { d =>
      val key = s"${d.correlationId}/${d.fileName}"
      val okFile = processed.get(key + ".json")
      val dlqFile = failed.get(key + ".failure.json")
      val right = d.outcome match {
        case Gen.Converted =>
          expectOk += 1
          dlqFile.isEmpty && okFile.exists(p =>
            Io.jsonField(Files.readString(p), "text").contains(d.text))
        case _ =>
          okFile.isEmpty && dlqFile.exists { p =>
            val ex = Io.jsonField(Files.readString(p), "exception").getOrElse("")
            if (ex.contains("circuit breaker")) Counters.breakerOpen.increment()
            ex.nonEmpty && !ex.contains("circuit breaker") && !ex.contains("timeout")
          }
      }
      if (!right) wrong += 1
    }
    // strays: outputs no fed document explains
    wrong += math.max(0, processed.size - expectOk) +
      math.max(0, failed.size - (fed.size - expectOk))
    Io.deleteTree(outDir)
    wrong
  }

}

/** stream_dedup: generated texts through
  * `StreamingMinhashDedup.detect` (transformWithState on RocksDB state)
  * into a memory sink; one micro-batch per `addData` +
  * `processAllAvailable`. The emitted (docId, matchedId) pairs must equal
  * the generator's planted near-duplicate pairs.
  */
final class Dedup(spark: SparkSession, work: Path) extends Workload {
  import spark.implicits._
  val cap = 1000
  val backlog = 1000
  /** The query keeps getting faster for its first few thousand docs;
    * three set-up rounds of one full batch each get it steady.
    */
  val warmup = 1000
  val warmupCap = 1000
  val rate: Double = Settings.dedupRate

  private var src: MemoryStream[StreamingMinhashDedup.DocText] = _
  private var query: StreamingQuery = _
  private var name: String = _
  private var chk: Path = _
  private val fed = mutable.ArrayBuffer.empty[Gen.Doc]
  /** Traced micro-batches: (span id, last executed trigger id before,
    * last executed trigger id after).
    */
  private val tracedBatches = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def open(tag: String): Unit = {
    name = s"dedup_${tag.replaceAll("[^A-Za-z0-9]", "_")}"
    chk = work.resolve(s"chk-$tag")
    Io.deleteTree(chk)
    fed.clear()
    src = MemoryStream[StreamingMinhashDedup.DocText](spark)
    query = StreamingMinhashDedup.detect(src.toDS())
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", chk.toString)
      .outputMode("append").start()
  }

  /** Progress of the triggers that ran a batch, oldest first. The query
    * thread records a trigger's progress before `processAllAvailable`
    * can return, so this is complete after each micro-batch.
    */
  private def executed: Vector[StreamingQueryProgress] =
    query.recentProgress.toVector.filter(_.durationMs.containsKey("addBatch"))

  private def lastExecuted: Long = executed.lastOption.map(_.batchId).getOrElse(-1L)

  def batch(docs: IndexedSeq[Gen.Doc], traced: Boolean): Unit = {
    val run = () => {
      src.addData(docs.map(d =>
        StreamingMinhashDedup.DocText(d.docId, d.text, d.eventTime)))
      query.processAllAvailable()
    }
    if (traced) Trace.span("microBatch", "stream", -1L) { id =>
      val before = lastExecuted
      run()
      tracedBatches += ((id, before, lastExecuted))
    } else run()
    fed ++= docs
  }

  def close(): Int = {
    query.processAllAvailable()
    query.stop()
    // close the RocksDB instances now: one left open until JVM exit can
    // run a background compaction whose log callback crashes the
    // exiting JVM (SIGSEGV in LoggerJniCallback::Logv)
    StateStore.stop()
    val hits = spark.table(name).select("docId", "matchedId").as[(Long, Long)]
      .collect().toSet
    spark.catalog.dropTempView(name)
    val expected = fed.filter(_.dupOf >= 0).map(d => (d.docId, d.dupOf)).toSet
    Io.deleteTree(chk)
    val extra = hits diff expected; val missing = expected diff hits
    if (extra.nonEmpty || missing.nonEmpty)
      System.err.println(s"[perfbench] dedup: ${extra.size} unexpected hits " +
        s"${extra.take(5)}, ${missing.size} planted pairs missed ${missing.take(5)}")
    extra.size + missing.size
  }

  /** Streaming-engine spans and counters of the traced phase, from the
    * query's progress: each trigger whose id falls in a traced
    * micro-batch's range becomes a `streaming` span under that batch.
    */
  override def layerMetrics(batches: Int): Map[String, Double] = {
    val owner = executed.flatMap { p =>
      tracedBatches.collectFirst { case (id, a, b) if p.batchId > a && p.batchId <= b => (p, id) }
    }
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    owner.foreach { case (p, parent) =>
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - offset
      val dur = p.durationMs.get("triggerExecution").longValue
      Trace.record(Trace.nextId(), "trigger", "streaming", startNs,
        startNs + dur * 1000000L, parent, p.batchId)
    }
    val ps = owner.map(_._1)
    def dur(k: String) = ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0d)).sum / batches
    val last = ps.lastOption.flatMap(_.stateOperators.headOption)
    tracedBatches.clear()
    Map(
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_commit_ms" -> ps.flatMap(_.stateOperators.headOption)
        .map(_.commitTimeMs.toDouble).sum / batches,
      "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0d),
      "streaming.state_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0d))
  }
}

/** Fixed pipeline settings, stated in perfbench/README.md. */
object Settings {
  /** 3 attempts, 1 ms then 2 ms back-off (the reference's 5 s x2 would
    * block a task slot 15 s per malformed document).
    */
  val retry: RetryPolicy = RetryPolicy(maxAttempts = 3, initialDelayMs = 1L,
    multiplier = 2.0, maxDelayMs = 4L)
  /** A window far wider than (failing docs per batch x task slots), so
    * the planted per-document failures never trip the breaker.
    */
  val breaker: BreakerConfig = BreakerConfig(requestVolumeThreshold = 1000)
  val serviceMs = 20
  val flakyShare = 0.05
  /** Open-loop offered rates, docs/s: assumptions, set at about 0.25
    * (ingest_local), 0.3 (ingest_remote) and 0.17 (stream_dedup) of each
    * drain rate on the 4-core machine the benchmark was written on, below
    * the usual half (see perfbench/README.md, Assumptions).
    */
  val localRate = 25.0
  val remoteRate = 20.0
  val dedupRate = 100.0
}
