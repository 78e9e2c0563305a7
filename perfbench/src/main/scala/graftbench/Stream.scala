package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.connect.Sources
import graft.pipeline.Pipeline
import graft.schema.SchemaRegistry

/** The `stream_curation` workload: a YAML `Pipeline` reads document files
  * with its `parquet` stream source and runs
  * `nfc_normalize → token_stats → quality_filter → dedup_exact` into a
  * benchmark-owned `foreachBatch` sink that records when each row arrived.
  *
  * Phases:
  *  1. setup, once, from JVM launch: session start, pipeline build, query
  *     start and one warm-up micro-batch over a pre-written file;
  *  2. open loop: a generator process writes files at a fixed offered rate
  *     for a warm-up window and then `--seconds`, stamping each row with its
  *     scheduled send time; latencies count from the end of the warm-up;
  *  3. catch-up: fresh queries drain a pre-written backlog
  *     (`Trigger.AvailableNow`); in a traced run also once at `local[1]`.
  * Every phase's deliveries are checked against a batch run of the same
  * pipeline over the same files: each surviving content hash delivered
  * exactly once.
  */
object Stream {

  val SchemaName = "bench_stream_docs"
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("sched_ms", LongType)))
  val Processors: Seq[String] = Seq("nfc_normalize", "token_stats", "quality_filter", "dedup_exact")

  def yaml(dir: String): String =
    s"""app_name: "bench_stream_curation"
       |source:
       |  type: "parquet"
       |  config: {path: "$dir", schema: "$SchemaName"}
       |processors:
       |  - {name: "nfc", class: "nfc_normalize"}
       |  - {name: "stats", class: "token_stats"}
       |  - {name: "quality", class: "quality_filter", params: {min_tokens: 20, max_tokens: 90}}
       |  - {name: "dedup", class: "dedup_exact"}
       |sink:
       |  type: "noop"
       |  config: {}
       |""".stripMargin

  /** Rows as they reach the sink, stamped on arrival; rows scheduled at or
    * after `measureFromMs` add a latency sample. `dropOne` plants a lost row
    * (the self-test's check that the output check works). */
  final class Sink(dropOne: Boolean) {
    val ids = mutable.ArrayBuffer[Long]()
    val hashes = mutable.ArrayBuffer[String]()
    val latencies = mutable.ArrayBuffer[Double]()
    @volatile var measureFromMs = Long.MaxValue
    private var dropped = !dropOne

    def apply(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.select("doc_id", "content_hash", "sched_ms").collect()
      val t = Main.nowMs()
      synchronized {
        val kept = if (!dropped && rows.nonEmpty) { dropped = true; rows.tail } else rows
        kept.foreach { r =>
          ids += r.getLong(0); hashes += r.getString(1)
          val sched = r.getLong(2)
          if (sched >= measureFromMs) latencies += t - sched
        }
      }
    }
  }

  private final case class Started(query: StreamingQuery, sink: Sink, startMs: Double)

  /** Start a built pipeline into a fresh sink. A traced start folds the
    * processors itself, observing the row count at every processor
    * boundary. */
  private def start(spark: SparkSession, p: Pipeline, ckpt: String, trigger: Trigger,
                    traced: Boolean, dropOne: Boolean): Started = {
    val df =
      if (!traced) p.transformed.get
      else {
        val src = Sources.create(spark, p.config.source, streaming = true)
        val names = "source" +: Processors
        p.processors.zip(names.tail).foldLeft(observe(src, names.head)) {
          case (d, (proc, n)) => observe(proc.process(d).get, n)
        }
      }
    val sink = new Sink(dropOne)
    val t0 = Main.nowMs()
    val q = df.writeStream
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .start()
    Started(q, sink, t0)
  }

  private def observe(df: DataFrame, name: String): DataFrame =
    df.observe(s"rows_$name", count(lit(1)).as("rows"))

  def run(a: Args): Map[String, Any] = {
    val work = a("stream-dir")
    val cores = a.int("cores")

    // 1. cold setup, from JVM launch: session start, pipeline build, query
    // start and one warm-up micro-batch; the query stays up for the open loop
    var spark = Main.session(a, cores)
    SchemaRegistry.register(SchemaName, Schema, overwrite = true)
    val openDir = s"$work/open"
    val p = Pipeline.fromYamlString(spark, yaml(openDir))
    val s0 = Main.nowMs()
    Sources.create(spark, p.config.source, streaming = true)
    val s1 = Main.nowMs()
    p.build()
    val pipelineBuildMs = Main.nowMs() - s1
    if (a.trace) Trace.attach(spark)
    val open = start(spark, p, s"$work/ckpt_open", Trigger.ProcessingTime(0L),
      traced = a.trace, dropOne = a.flag("plant-drop"))
    open.query.processAllAvailable()
    val setupMs = Main.nowMs() - a.dbl("launch-ms")

    // 2. open loop at a fixed offered rate, from a separate process: a
    // warm-up window (JIT, first file listings), then `--seconds` measured
    val genStart = (Main.nowMs() + 1500).toLong
    val measureFrom = genStart + (a.dbl("warmup-s") * 1000).toLong
    open.sink.measureFromMs = measureFrom
    val gen = new ProcessBuilder((Seq(a("python"), a("gen"), "stream",
      "--dir", openDir, "--seed", a("seed"), "--dup-share", a("dup-share"),
      "--rows-per-file", a("rows-per-file"), "--rate", a("rate"),
      "--seconds", (a.dbl("warmup-s") + a.dbl("seconds")).toString,
      "--start-ms", genStart.toString,
      "--first-id", "0", "--log", s"$work/generator.json")).asJava)
      .redirectErrorStream(true)
      .redirectOutput(new File(s"$work/generator.out"))
      .start()
    val genRc = gen.waitFor()
    open.query.processAllAvailable()
    val openEnd = Main.nowMs()
    val openProgress = open.query.recentProgress.map(_.json).toList
    open.query.stop()
    if (a.trace) Trace.detach(spark)

    // 3. catch-up drains of the backlog; traced runs alternate untraced and
    // traced drains, then drain once more at local[1]
    val backlog = s"$work/backlog"
    val drainReps = a.int("drains")
    lazy val backlogWant = expected(spark, backlog)
    def drain(tag: String, traced: Boolean): Map[String, Any] = {
      if (traced) Trace.attach(spark)
      val p = Pipeline.fromYamlString(spark, yaml(backlog)).build()
      val d = start(spark, p, s"$work/ckpt_$tag", Trigger.AvailableNow(), traced, false)
      d.query.awaitTermination()
      val end = Main.nowMs()
      if (traced) Trace.detach(spark)
      Map("tag" -> tag, "traced" -> traced, "start" -> d.startMs, "end" -> end,
          "run_id" -> d.query.runId.toString,
          "rows_in" -> d.query.recentProgress.map(_.numInputRows).sum,
          "check" -> check(d.sink, backlogWant))
    }
    val drains = (0 until drainReps).map(r => drain(s"drain_$r", a.trace && r % 2 == 1))

    val openCheck = check(open.sink, expected(spark, openDir))
    val rss = Main.peakRssMb()
    val single =
      if (!a.trace) Nil
      else {
        spark.stop()
        spark = Main.session(a, 1)
        SchemaRegistry.register(SchemaName, Schema, overwrite = true)
        Seq(drain("drain_local1", traced = false))
      }

    Map(
      "setup_ms" -> setupMs,
      "pipeline_build_ms" -> pipelineBuildMs,
      "source_create_ms" -> (s1 - s0),
      "open" -> Map(
        "generator_rc" -> genRc, "start" -> genStart, "measure_from" -> measureFrom,
        "end" -> openEnd,
        "run_id" -> open.query.runId.toString,
        "latencies_ms" -> open.sink.latencies,
        "progress" -> openProgress, "check" -> openCheck),
      "drains" -> drains,
      "single_core" -> single,
      "peak_rss_mb" -> rss)
  }

  /** Content hashes a batch run of the same pipeline yields over `dir`. */
  private def expected(spark: SparkSession, dir: String): Set[String] =
    Pipeline.fromYamlString(spark, yaml(dir), streaming = false).build()
      .transformed.get.select("content_hash").collect().map(_.getString(0)).toSet

  private def check(sink: Sink, want: Set[String]): Map[String, Any] = {
    val got = sink.hashes.groupBy(identity).map { case (h, xs) => h -> xs.size }
    Map(
      "expected" -> want.size,
      "delivered" -> sink.hashes.size,
      "lost" -> want.count(h => !got.contains(h)),
      "duplicated" -> got.values.map(_ - 1).sum,
      "unexpected" -> got.keys.count(h => !want.contains(h)),
      "unique_ids" -> (sink.ids.distinct.size == sink.ids.size))
  }
}
