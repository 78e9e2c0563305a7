package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** PLANS.md generator: the physical operator tree of every gated query at
  * sf0.001 (plan SHAPE is the audit target, not size). Re-run each round
  * so the committed dump never drifts from the code:
  *
  *   sbt "runMain graft.Plans"             # writes PLANS.md
  *   sbt "runMain graft.Plans <sf> <out>"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "220")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical operator trees for every gated query\n\n"
    sb ++= "Generated at sf0.001 (plan shape, not size, is the audit target).\n"
    sb ++= "Field-level detail elided; `*(n)` marks whole-stage-codegen spans.\n"
    sb ++= "Expression ids and plan_id values are normalized to `x` (ADVICE\n"
    sb ++= "r17) so regeneration diffs show only structural changes.\n\n"
    sb ++= "Reading broadcast choices in this dump: a BroadcastExchange over a\n"
    sb ++= "FileScan of an SF-growing table is usually a STATS-DRIVEN pick that\n"
    sb ++= "self-corrects at scale (past the autoBroadcastJoinThreshold the same\n"
    sb ++= "plan degrades gracefully to a shuffled join). The shape that does NOT\n"
    sb ++= "self-correct — and is therefore hinted explicitly and pinned by\n"
    sb ++= "PlanSpec — is a join where one side is a checkpointed RDD with no\n"
    sb ++= "stats (Catalyst then broadcasts the OTHER side however big it gets:\n"
    sb ++= "see llm_semdedup's label join and llm_substring_excise's slice join).\n\n"
    sb ++= "A `LocalTableScan` feeding a component-census aggregate (the\n"
    sb ++= "graph/cluster gates) is the BOUNDED driver-local fast path for\n"
    sb ++= "<=200k-edge pair graphs (TextRank precedent; spark.graft.cc.\n"
    sb ++= "localEdgeMax=0 disables). The distributed star contraction is the\n"
    sb ++= ">200k path — law-equal in GraphSpec; its 10x forced-distributed\n"
    sb ++= "chain run is recorded in COVERAGE.md \"Scale evidence\".\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val tree =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"<plan failed: ${e.getMessage}>" }
      // Normalize nondeterministic identifiers (ADVICE r17): expression
      // ids (#NNNN, session-lifetime counters) and plan_id values churn
      // on every regeneration without any structural change, drowning
      // the meaningful diffs. Stripping them AFTER the length trim
      // would shift the cut column run-to-run, so normalize first.
      val normalized = tree
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
      val trimmed = normalized.linesIterator
        .map(l => if (l.length > 110) l.take(107) + "..." else l)
        .mkString("\n")
      sb ++= s"\n## $name\n\n```\n$trimmed\n```\n"
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
