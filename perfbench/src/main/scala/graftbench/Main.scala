package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, launches this
  * main once per run, and checks and summarizes what it writes:
  *
  *   graftbench.Main --workload <name> --out <dir> --seconds <s>
  *                   --trace <0|1> --cores <n> --launch-ms <epoch ms> ...
  *
  * Every measurement is written to `<out>/result.json`; spans (traced runs
  * only) to `<out>/trace.json`. Nothing is printed on stdout.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val result = a("workload") match {
      case "batch_relational" | "batch_llm" => Batch.run(a)
      case "stream_curation"                => Stream.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a("out"), "result.json"), Json(result))
    if (a.trace) Files.writeString(Paths.get(a("out"), "trace.json"), Json(Trace.dump()))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The session config of the repository's own Bench/Verify mains, plus
    * scratch and warehouse directories kept inside the run directory. */
  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "220")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"${a("out")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("out")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener events and the generator's stamps. */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val l = Files.readAllLines(Paths.get("/proc/self/status"))
    val it = l.iterator()
    while (it.hasNext) {
      val s = it.next()
      if (s.startsWith("VmHWM:")) return s.split("\\s+")(1).toDouble / 1024.0
    }
    -1.0
  }
}

final case class Args(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def dbl(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  def trace: Boolean = apply("trace") == "1"
  def flag(k: String): Boolean = m.get(k).contains("1")
}

object Args {
  def apply(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --key value pairs")
    Args(argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument $k"); k.drop(2) -> v
    }.toMap)
  }
}

/** Minimal JSON writer for the result files (maps, sequences, numbers,
  * strings, booleans). Non-finite doubles become null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None                   => "null"
    case Some(x)                       => apply(x)
    case s: String                     => quote(s)
    case b: Boolean                    => b.toString
    case d: Double                     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                      => apply(f.toDouble)
    case n: Int                        => n.toString
    case n: Long                       => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]               => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]                  => apply(xs.toSeq)
    case other                         => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
