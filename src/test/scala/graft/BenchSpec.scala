package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The driver parses Bench's JSON out of the LAST 2000 chars of sbt
  * output; `Bench.compactLine` exists to always fit that window. These
  * tests pin the contract without a SparkSession, along with the rest of
  * the harness surface: the regress baseline and the mains and env
  * names `src/main` exposes.
  */
class BenchSpec extends AnyFunSuite {

  private val many: Seq[(String, Double)] =
    (1 to 120).map(i => f"query_with_a_long_name_$i%03d" -> (i * 0.037))

  test("compact line fits the budget even with far more queries than today") {
    val line = Bench.compactLine(many, many.map(_._2).sum, "/root/testdata/sf0.1")
    assert(line.length <= 1800, s"len=${line.length}")
    assert(line.startsWith("{\"metric\":\"total\""))
    assert(line.endsWith("\"sf\":0.1}"))
  }

  test("a full-round-sized result set emits the FULL vector positionally " +
       "(sorted names + qsig) within the budget") {
    // 251 realistic-length names, realistic time spread
    val full = (1 to 251).map(i =>
      f"llm_realistic_query_name_$i%03d" -> (i * 0.041 % 7.3))
    val line = Bench.compactLine(full, full.map(_._2).sum,
      "/root/testdata/sf0.1",
      env = """"env":{"load_start":0.41,"load_end":0.52,"contended":false,""" +
        """"steal_cpu_s":0.03,"reps":3},"baseline_s":142.01,"baseline_round":10""")
    assert(line.length <= 1800, s"len=${line.length}")
    assert(line.contains("\"queries_key\":\"sorted_names\""))
    // a reader holding the sorted name list can prove it matches the
    // vector's, then zip: every entry at its sorted position, 2 decimals
    val names = full.map(_._1).sorted
    assert(line.contains(s""""qsig":"${Bench.namesSig(names)}""""), line)
    val vector = raw""""queries":\[([^\]]*)\]""".r.findFirstMatchIn(line)
      .map(_.group(1).split(",").map(_.toDouble).toSeq).getOrElse(Seq.empty)
    assert(vector === names.map(n => math.round(full.toMap.apply(n) * 100) / 100.0))
  }

  test("truncated last-resort view keeps the slowest queries and reports " +
       "the omission (forced by an absurdly small budget)") {
    val line = Bench.compactLine(many, many.map(_._2).sum,
      "/root/testdata/sf0.1", budget = 300)
    // slowest entry must survive truncation; fastest must be the one dropped
    assert(line.length <= 300, s"len=${line.length}")
    assert(line.contains("query_with_a_long_name_120"))
    assert(!line.contains("\"query_with_a_long_name_001\""))
    assert(line.contains("\"queries_omitted\":"))
  }

  test("small result sets render completely, no omission marker") {
    val line = Bench.compactLine(
      Seq("q1" -> 1.23456, "q2" -> 0.5), 1.73456, "/root/testdata/sf0.01")
    assert(line ===
      """{"metric":"total","value":1.73,"unit":"sec","queries":{"q1":1.23,"q2":0.5},"sf":0.01}""")
  }

  test("non-sf dir falls back to quoting the path") {
    val line = Bench.compactLine(Seq("q1" -> 1.0), 1.0, "/some/dir")
    assert(line.endsWith("\"sf\":\"/some/dir\"}"))
  }

  test("fallback path is JSON-escaped (quotes and backslashes)") {
    val line = Bench.compactLine(Seq("q1" -> 1.0), 1.0, """/weird"dir\path""")
    assert(line.endsWith("\"sf\":\"/weird\\\"dir\\\\path\"}"), line)
  }

  test("the pinned regress baseline is committed and its queries object " +
       "decodes to every current query name") {
    val path = Paths.get(Bench.BaselineFile)
    assert(Files.isRegularFile(path), s"$path is not committed")
    val times = Bench.snapshotQueries(Files.readString(path))
    assert(times.keySet === SparkEntry.queries.keySet)
    assert(times.size === 252)
    assert(times.values.forall(_ > 0))
    // the positional compact twin is stdout-only, never a baseline
    intercept[IllegalArgumentException](
      Bench.snapshotQueries("""{"queries":[1.0,2.0]}"""))
  }

  // --- harness surface: diagnostic mains and env knobs must not regrow ---

  test("src/main defines only the harness mains and reads only the " +
       "harness env names, with no graft.* JVM debug property") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)).toList
      finally walk.close()
    assert(sources.nonEmpty, "run from the repository root")
    val objectDecl = raw"(?m)^\s*object\s+(\w+)".r
    val mains = sources.flatMap { case (_, text) =>
      raw"\bdef\s+main\s*\(".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.last
      }
    }
    assert(mains.sorted === Seq("Bench", "PlanCapture", "Plans",
      "SampleStreamJob", "StreamJob", "Verify"))
    val envNames = sources.flatMap { case (_, text) =>
      raw"SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(text)
    }.toSet
    assert(envNames === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_REPS",
      "SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_MATERIALIZE"))
    val debugProps = sources.flatMap { case (p, text) =>
      raw"""(getBoolean|getProperty|props\.get|props)\(\s*"graft\.""".r
        .findAllIn(text).map(m => s"$p: $m")
    }
    assert(debugProps.isEmpty)
  }
}
