package graftbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** The two batch workloads: one client runs the named `SparkEntry.queries`
  * one after another (closed loop), each forced to full evaluation by
  * collecting its result to the client.
  *
  * Setup is session start, view registration and one warm-up pass over the
  * query set; the warm-up results are written out for `run.py` to compare
  * against the DuckDB oracle, and every timed execution must reproduce its
  * warm-up result exactly. Then `--passes` timed passes: a fixed count, so
  * every run has the same sample count and tail percentile (a traced run
  * alternates untraced and traced passes).
  */
object Batch {

  final case class Exec(name: String, pass: Int, traced: Boolean, start: Double,
                        end: Double, rows: Long, digest: String, error: String,
                        files: Seq[String] = Nil)

  def run(a: Args): Map[String, Any] = {
    val dir = a("data")
    val out = a("out")
    val names = a.list("queries")
    val spark = Main.session(a, a.int("cores"))
    graft.Tables.registerViews(spark, dir)
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))

    val warmRuns = fns.map { case (n, fn) =>
      execute(spark, n, fn, dir, pass = -1, traced = false, parent = 0)
    }
    val warm = warmRuns.map(_._1)
    val ready = Main.nowMs()

    val execs = mutable.ArrayBuffer[Exec]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    // traced runs time untraced, traced, untraced passes, so warm-up
    // drift does not bias the tracing-overhead ratio
    for (pass <- 0 until a.int("passes")) {
      val traced = a.trace && pass % 2 == 1
      val wid = Trace.newId()
      if (traced) Trace.attach(spark)
      val ps = Main.nowMs()
      fns.foreach { case (n, fn) =>
        execs += execute(spark, n, fn, dir, pass, traced, wid)._1
      }
      val pe = Main.nowMs()
      if (traced) {
        Trace.add(Trace.Span(wid, 0, a("workload"), "workload", ps, pe, Map("pass" -> pass)))
        Trace.detach(spark)
      }
      passes += Map("pass" -> pass, "traced" -> traced, "start" -> ps, "end" -> pe)
    }
    if (a.trace) Trace.put("gauges", Map(
      "suffix_index_build_s" -> graft.ops.llm.SuffixIndex.lastBuildSeconds,
      "span_frame_build_s" -> graft.ops.llm.Dedup.spanFrameColdSeconds))

    // warm-up results, for the oracle comparison
    warmRuns.foreach { case (e, res) =>
      res.foreach { case (rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/${e.name}")
      }
    }
    val warmDigest = warm.map(e => e.name -> e.digest).toMap
    Map(
      "setup_ms" -> (ready - a.dbl("launch-ms")),
      "warmup" -> warm.map(execJson(_, None)),
      "execs" -> execs.map(e => execJson(e, Some(warmDigest(e.name)))),
      "passes" -> passes,
      "scanned_files" -> warm.map(e => e.name -> e.files).toMap,
      "peak_rss_mb" -> Main.peakRssMb())
  }

  private def execJson(e: Exec, expect: Option[String]): Map[String, Any] = Map(
    "name" -> e.name, "pass" -> e.pass, "traced" -> e.traced, "start" -> e.start,
    "end" -> e.end, "rows" -> e.rows, "error" -> e.error,
    "same_as_warmup" -> expect.forall(d => e.error == null && d == e.digest))

  /** One query execution: build the plan, collect the result. Before it,
    * outside the timed region, the per-query debris sweep of the
    * repository's own Bench (uncached frames, non-retained pins, a GC). */
  private def execute(spark: SparkSession, name: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      dir: String, pass: Int, traced: Boolean, parent: Int)
      : (Exec, Option[(Array[Row], org.apache.spark.sql.types.StructType)]) = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => graft.state.Materialize.isRetained(id) }
      .values.foreach(_.unpersist(blocking = false))
    // and its drain of the asynchronous cleanup backlog before timing
    System.gc()
    Thread.sleep(100)
    val sc = spark.sparkContext
    val qid = Trace.newId()
    val bid = Trace.newId()
    val fid = Trace.newId()
    val t0 = Main.nowMs()
    try {
      sc.setJobGroup(s"bench:$bid", s"$name build")
      val df = if (traced) Trace.span(bid, qid, "SparkEntry.queries", "call")(fn(spark, dir))
               else fn(spark, dir)
      sc.setJobGroup(s"bench:$fid", s"$name force")
      val rows = if (traced) Trace.span(fid, qid, "collect", "call")(df.collect())
                 else df.collect()
      val t1 = Main.nowMs()
      if (traced) Trace.add(Trace.Span(qid, parent, name, "query", t0, t1,
        Map("pass" -> pass) ++ pins(spark)))
      val files = if (pass < 0) inputFiles(df) else Nil
      (Exec(name, pass, traced, t0, t1, rows.length, digest(rows), null, files),
       Some((rows, df.schema)))
    } catch {
      case NonFatal(e) =>
        (Exec(name, pass, traced, t0, Main.nowMs(), 0, "", String.valueOf(e.getMessage)), None)
    } finally sc.clearJobGroup()
  }

  /** Order-independent digest of a result: sorted canonical row renderings. */
  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null                          => "null"
    case b: Array[Byte]                => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row                        => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]    => s.map(render).mkString("[", ",", "]")
    case other                         => other.toString
  }

  /** Fixture files the query's final plan scans (`Dataset.inputFiles`). */
  private def inputFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    try df.inputFiles.toSeq.map(p => Paths.get(new java.net.URI(p).getPath)
      .getFileName.toString).distinct.sorted
    catch { case NonFatal(_) => Nil }

  /** Storage held by pinned frames right after a query: the count of
    * retained `Materialize` pins and the bytes of every persisted RDD. */
  private def pins(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    Map("pins_retained" -> sc.getPersistentRDDs.keys.count(graft.state.Materialize.isRetained),
        "pinned_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }
}
