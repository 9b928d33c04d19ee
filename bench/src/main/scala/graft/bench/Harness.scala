package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{pipeline, GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** One operation of a workload: a pipeline run or a query. `run`
  * returns the digest of the output it materialized. */
final case class Op(name: String, layer: String, run: () => String)

/** A workload: the ops of each round of its timed loop, the queries
  * whose outputs are oracle-checked once per seed, the tables it reads
  * and the stage calls a traced run makes (layer, SparkEntry.queries
  * key) in stage order. */
trait Workload {
  def round(i: Int): Seq[Op]
  def exports: Seq[String]
  def tables: Seq[String]
  def stageCalls: Seq[(String, String)]
  /** Warm up by writing the oracle exports (each op is one exported
    * query) instead of running a round of ops. */
  def warmupByExport: Boolean = false
}

/** The benchmark's JVM side: builds the session, sets up (one untimed
  * warm-up round), exports the oracle-checked outputs, runs the timed
  * loop and, when traced, the per-layer pass. Writes one JSON document
  * for `bench/run.py`, which checks the outputs and prints the result.
  *
  * Usage: graft.bench.Harness <workload> <inputDir> <workDir> <seconds>
  *          <trace 0|1> <seed> <cores> <resultFile>
  */
object Harness {

  val layers: Seq[String] = Seq("Tables", "ops.Features", "ops.Graph",
    "ops.Fused", "ops.Metrics", "ops.Relational", "ops.Ann", "ops.TimeJoins",
    "ops.Sessions", "ops.Components", "ops.Multimodal", "ops.Text",
    "ops.Dedup", "ops.Sampling", "ops.Corpus")

  private def now: Double = System.nanoTime() / 1e9

  /** Fewest op pairs a traced run times: the untraced/traced order
    * flips from pair to pair, so over two pairs the gain of running
    * second cancels out of the tracing overhead. */
  val MinTracedPairs = 2

  /** JIT compilation and GC time spent so far in this JVM, in ms: kept
    * with each sample so a slow op can be told apart from a JVM busy
    * compiling or collecting. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** The adhoc mix: one query from each operator family the fraud
    * pipeline never calls, issued by one closed-loop client. */
  val adhocQueries: Seq[(String, String)] = Seq(
    "ops.Relational" -> "q05_window_rank",
    "ops.Ann" -> "q48_ann_ivf",
    "ops.TimeJoins" -> "q50_range_join",
    "ops.Sessions" -> "q42_sessionize",
    "ops.Components" -> "q47_connected_components",
    "ops.Multimodal" -> "q41_multimodal_meta",
    "ops.Text" -> "q37_lang_id",
    "ops.Dedup" -> "q55_dedup_clusters",
    "ops.Sampling" -> "q69_mix_sample",
    "ops.Corpus" -> "q62_pack_chunks")

  def workload(name: String, spark: SparkSession, dir: String,
      seed: Long): Workload = name match {
    case "fraud_batch" => new Workload {
      private val op = Op("FraudPipeline", "pipeline.FraudPipeline", () => {
        val r = pipeline.FraudPipeline.run(spark, dir)
        val row = r.metrics.collect().toSeq
        Digest.ofRows(row) + s":users=${r.nUsers}"
      })
      def round(i: Int): Seq[Op] = Seq(op)
      val exports = Seq("q59_full_feature_matrix")
      val tables = Seq("events", "customer", "orders", "lineitem")
      val stageCalls = Seq(
        "ops.Features" -> "q19_feature_matrix",
        "ops.Graph" -> "q53_signed_degrees",
        "ops.Graph" -> "q22_neighbor_avg_degree",
        "ops.Graph" -> "q23_triangles",
        "ops.Features" -> "q18_stratified_split",
        "ops.Metrics" -> "q26_confusion_metrics",
        "ops.Metrics" -> "q27_roc_auc",
        "ops.Metrics" -> "q28_avg_precision",
        "ops.Fused" -> "q94_bdbgl_score")
    }
    case "adhoc_queries" => new Workload {
      private val ops = adhocQueries.map { case (layer, key) =>
        Op(key, layer, () => Digest.of(SparkEntry.queries(key)(spark, dir)))
      }
      def round(i: Int): Seq[Op] = new Random(seed * 1000003L + i).shuffle(ops)
      val exports = adhocQueries.map(_._2)
      val tables = Tables.all
      val stageCalls = Nil
      override val warmupByExport = true
    }
    case other => sys.error(s"unknown workload '$other'")
  }

  /** Outside every timed window: drop what an earlier op left cached,
    * then wait until Spark reports no active job. */
  private def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty)
      Thread.sleep(5)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  final case class Sample(run: Int, name: String, layer: String,
      latencyS: Double, digest: String, error: String, traced: Boolean,
      jitMs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val Array(wname, inputDir, workDir, secondsS, traceS, seedS, coresS,
      resultFile) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val seed = seedS.toLong
    val cores = coresS.toInt

    // set-up: session build, then one untimed warm-up round
    val setupStart = now
    val spark = GraftSession.local(cores)
    val buildS = now - setupStart
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val w = workload(wname, spark, inputDir, seed)
    val verifyOut = new File(workDir, "verify_out")
    verifyOut.mkdirs()
    def export(key: String): Unit = SparkEntry.queries(key)(spark, inputDir)
      .write.parquet(new File(verifyOut, key).getPath)
    val verified = mutable.LinkedHashMap.empty[String, String]
    if (w.warmupByExport) w.exports.foreach(export)
    else w.round(0).foreach(op => verified(op.name) = op.run())
    val setupS = now - setupStart
    val phases = mutable.LinkedHashMap("setup_s" -> setupS)
    def phase[A](name: String)(body: => A): A = {
      val t0 = now
      try body finally phases(name) = now - t0
    }

    // once per seed: the outputs the oracle checks, and the digest each
    // timed query must reproduce, read back from the exported files
    phase("export_s") {
      if (!w.warmupByExport) w.exports.foreach(export)
      else w.exports.foreach(key => verified(key) =
        Digest.of(spark.read.parquet(new File(verifyOut, key).getPath)))
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(verifyOut.getPath, "oracle_sql.json"),
      w.exports.filter(oracle.contains).map(k => s"${q(k)}:${q(oracle(k))}")
        .mkString("{", ",\n", "}"))

    val tracer = new Tracer(spark.sparkContext, cores)
    def attach(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        // the tracer sits behind the counters on the listener bus and the
        // query-end events follow the job ends: let both catch up first
        counters.settle()
        Thread.sleep(100)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }

    var heapMb = 0.0
    /** One timed op: quiesce first, attach the tracer around the op
      * when this sample is a traced one, and read the live heap after it,
      * all outside the timer. */
    def measure(op: Op, run: Int, withTrace: Boolean): Sample = {
      quiesce(spark)
      if (withTrace) attach(true)
      val (jit0, gc0) = (jitMs, gcMs)
      val t0 = now
      val (digest, err) =
        try (if (withTrace) tracer.span(op.layer, run)(op.run()) else op.run(), null)
        catch { case e: Throwable => (null, s"${e.getClass.getName}: ${e.getMessage}") }
      val sample = Sample(run, op.name, op.layer, now - t0, digest, err, withTrace,
        jitMs - jit0, gcMs - gc0)
      if (withTrace) attach(false)
      heapMb = math.max(heapMb, LiveHeap.afterFullGcMb())
      sample
    }

    // the timed loop: whole rounds until `seconds` have passed. A traced
    // run times every op twice, untraced and traced, alternating which
    // goes first, over at least `MinTracedPairs` pairs; the difference
    // is the tracing overhead.
    val samples = mutable.ArrayBuffer.empty[Sample]
    quiesce(spark)
    counters.settle()
    val shuffle0 = counters.shuffleWriteBytes.get()
    phase("timed_s") {
      val start = now
      var r = 0
      while (now - start < seconds ||
          (traced && samples.size < 2 * MinTracedPairs)) {
        w.round(r + 1).foreach { op =>
          val order = if (!traced) Seq(false)
            else if (samples.size / 2 % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach(t => samples += measure(op, samples.size, t))
        }
        r += 1
      }
    }
    counters.settle()
    val shuffleBytes = counters.shuffleWriteBytes.get() - shuffle0

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    var spansJson = "[]"
    if (traced) phase("stage_calls_s") {
      // the stage calls, each in the span of its layer
      quiesce(spark)
      attach(true)
      val run = samples.size
      tracer.span("Tables", run) {
        w.tables.foreach(t => Digest.of(Tables(spark, inputDir, t)))
      }
      w.stageCalls.foreach { case (layer, key) =>
        tracer.span(layer, run)(Digest.of(SparkEntry.queries(key)(spark, inputDir)))
      }
      attach(false)
      tracer.layerMetrics(layers).foreach { case (k, v) => perLayer(k) = v }
      val (noJob, idle) = tracer.jobGaps("pipeline.FraudPipeline")
      perLayer("pipeline.FraudPipeline.no_job_s") = noJob
      perLayer("pipeline.FraudPipeline.slot_idle_s") = idle
      spansJson = tracer.spansJson
    }
    perLayer("GraftSession.build_s") = buildS

    def sampleJson(s: Sample): String =
      s"""{"run":${s.run},"name":${q(s.name)},"layer":${q(s.layer)},""" +
        s""""latency_s":${num(s.latencyS)},"digest":${Option(s.digest).map(q).getOrElse("null")},""" +
        s""""error":${Option(s.error).map(q).getOrElse("null")},"traced":${s.traced},""" +
        s""""jit_ms":${s.jitMs},"gc_ms":${s.gcMs}}"""
    val json =
      s"""{"workload":${q(wname)},"seed":$seed,"cores":$cores,""" +
        s""""setup_s":${num(setupS)},"build_s":${num(buildS)},""" +
        s""""heap_peak_mb":${num(heapMb)},"shuffle_write_bytes":$shuffleBytes,""" +
        s""""verified":{${verified.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},""" +
        s""""exports":[${w.exports.map(q).mkString(",")}],""" +
        s""""samples":[${samples.map(sampleJson).mkString(",\n")}],""" +
        s""""per_layer":{${perLayer.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},""" +
        s""""phases":{${phases.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},""" +
        s""""spans":$spansJson}"""
    Files.writeString(Paths.get(resultFile), json)
    spark.stop()
  }
}
