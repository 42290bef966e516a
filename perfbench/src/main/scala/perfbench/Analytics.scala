package perfbench

import java.nio.file.Path

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The `analytics` layer: near-dup queries of the query registry
  * (`SparkEntry.queries`) over a seeded `documents` table written from
  * the generator's texts. q27 (shingle inverted index) and q28 (MinHash
  * + LSH, the `SketchFns` kernels stream_dedup shares) must both return
  * exactly the planted near-duplicate pairs.
  *
  * One untimed warm-up pass, then [[passes]] timed passes; a query's
  * time is the median of its timed passes (collect of the pair set).
  */
object Analytics {
  val queries: Seq[(String, String)] =
    Seq("q27" -> "q27_jaccard_pairs", "q28" -> "q28_minhash_lsh_pairs")
  val docs = 3000
  val passes = 3

  /** `seconds`: median per query id; shuffle, spill and task CPU are per
    * timed pass (all queries), from the Spark listener counters;
    * `checked`/`wrong`: query runs compared with the planted pairs.
    */
  final case class Result(seconds: Map[String, Double], shuffleBytes: Double,
                          spillBytes: Double, taskCpuS: Double,
                          checked: Int, wrong: Int)

  def run(spark: SparkSession, seed: Long, work: Path): Result = {
    import spark.implicits._
    val st = new Gen.Stream(seed, "analytics")
    val corpus = (0 until docs).map(st(_))
    val expected = corpus.filter(_.dupOf >= 0).map(d => (d.dupOf, d.docId)).toSet
    val dir = work.resolve("analytics")
    Io.deleteTree(dir)
    corpus.map(d => (d.docId, d.text.replace('\n', ' '))).toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)

    var checked = 0; var wrong = 0
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    def pass(p: Int, timed: Boolean): Unit = queries.foreach { case (qid, name) =>
      Trace.batchId = p
      val t0 = System.nanoTime()
      val pairs = Trace.span(name, "analytics", -1L) { _ =>
        SparkEntry.queries(name)(spark, dir.toString)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      }
      if (timed) times(qid) = times.getOrElse(qid, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
      checked += 1
      if (pairs != expected) {
        wrong += 1
        System.err.println(s"[perfbench] analytics: $name returned ${pairs.size} pairs, " +
          s"${(pairs diff expected).size} unexpected, ${(expected diff pairs).size} missed")
      }
    }
    def taskCounters = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      Seq(Counters.shuffleBytes, Counters.spillBytes, Counters.taskCpuNs).map(_.sum.toDouble)
    }
    pass(-1, timed = false)
    val before = taskCounters
    (0 until passes).foreach(pass(_, timed = true))
    val Seq(shuffle, spill, cpuNs) = taskCounters.zip(before).map { case (a, b) => (a - b) / passes }
    Io.deleteTree(dir)
    Result(times.map { case (q, ts) => q -> Main.quantile(ts, 0.5) }.toMap,
      shuffle, spill, cpuNs / 1e9, checked, wrong)
  }
}
