package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM entry point, started by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --data <fixture dir> --work <run dir>
  *        [--gen-warm-port <p> --gen-main-port <p>]   (tick_pipeline)
  *
  * Runs one workload on `local[cores]` against inputs the launcher already
  * generated from the seed, and writes `<work>/result.json`: operations
  * attempted and failed, the end-to-end and per-layer metric values, named
  * detail figures, and (olap_batch) the result dumps the launcher checks
  * against the DuckDB oracle. With `--trace 1` it also writes every span
  * to `<work>/spans.json`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, data: String, work: String, opts: Map[String, String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cores").toInt, m("data"), m("work"), m)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      // the same session shape as graft.Bench
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.terminalGuard", "off")
      .config("spark.ui.enabled", "false")
      // run isolation: every table and spill file lands in this run's dir
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report
    val obs = new Obs(spark.sparkContext, args.trace)
    try {
      val ctx = Ctx(spark, args, obs, report)
      ctx.phase("session ready")
      args.workload match {
        case "olap_batch" => OlapBatch.run(ctx)
        case "store_maintain" => StoreMaintain.run(ctx)
        case "tick_pipeline" => TickPipeline.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        report.error(s"workload aborted: $t")
    } finally {
      report.write(s"${args.work}/result.json")
      if (args.trace) Report.writeSpans(obs.allSpans, s"${args.work}/spans.json")
      org.apache.spark.sql.GraftSqlBridge.stopStateStores()
      spark.stop()
    }
  }
}

final case class Ctx(spark: SparkSession, args: Main.Args, obs: Obs, report: Report) {
  /** Progress line on stderr (the launcher keeps it in the run's log). */
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $what")

  /** Force every row of `df` through the noop sink, as graft.Bench does. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The runtime counters of a timed region, as per-layer metrics. */
  def runtimeLayers(work: Counters, wallS: Double): Unit = {
    report.layer("driver.gap_s", math.max(0.0, wallS - work.jobBusyMs / 1e3))
    report.layer("driver.jobs", work.jobs.toDouble)
    report.layer("driver.stages", work.stages.toDouble)
    report.layer("driver.tasks", work.tasks.toDouble)
    report.layer("exec.task_s", work.taskS)
    report.layer("exec.cpu_s", work.cpuNs / 1e9)
    report.layer("exec.gc_s", work.gcMs / 1e3)
    report.layer("shuffle.write_bytes", work.shuffleWrite.toDouble)
    report.layer("shuffle.read_bytes", work.shuffleRead.toDouble)
    report.layer("spill.bytes", work.spill.toDouble)
  }

  /** Share of [lo, hi) covered by spans, and the tracing overhead share. */
  def traceLayers(loNs: Long, hiNs: Long): Unit =
    if (args.trace) {
      val iv = obs.allSpans.map(s => (s.startNs, s.endNs))
      report.layer("trace.coverage", Stats.covered(iv, loNs, hiNs).toDouble / (hiNs - loNs))
      report.layer("trace.overhead_share", obs.overheadSeconds / ((hiNs - loNs) / 1e9))
    }
}

/** What a run reports; written as JSON for the launcher. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  val oracleChecks = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double): Unit = synchronized { e2e(name) = v }
  def layer(name: String, v: Double): Unit = synchronized { layers(name) = v }
  def info(name: String, v: Double): Unit = synchronized { detail(name) = v }
  def ok(): Unit = synchronized { attempted += 1 }
  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (errors.length < 50) errors += what
  }
  def error(what: String): Unit = synchronized {
    failed += 1; attempted = math.max(attempted, failed)
    errors += what
  }

  def write(path: String): Unit = synchronized {
    def obj(m: collection.Map[String, Double]) = m.map { case (k, v) =>
      Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    val checks = oracleChecks.map { case (n, sql, dir) =>
      s"""{"name":${Json.str(n)},"sql":${Json.str(sql)},"dir":${Json.str(dir)}}""" }
    val txt = s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},"detail":${obj(detail)},""" +
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
      s""""oracle_checks":${checks.mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), txt)
  }
}

object Report {
  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      spans.zipWithIndex.foreach { case (s, i) =>
        w.print(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
          s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""jobs":${s.work.jobs},"tasks":${s.work.tasks},"task_ms":${s.work.taskMs},""" +
          s""""gc_ms":${s.work.gcMs},"shuffle_read":${s.work.shuffleRead},""" +
          s""""shuffle_write":${s.work.shuffleWrite}}""")
        w.println(if (i < spans.length - 1) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
