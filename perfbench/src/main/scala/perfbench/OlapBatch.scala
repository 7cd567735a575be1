package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.model.Tables
import graft.queries.SharedStages

/** `olap_batch`: closed loop, one client, over a fixed mix of read-only
  * declared queries plus the two SharedStages builds.
  *
  * Untimed first: one warm-up pass whose query results are dumped for the
  * launcher's DuckDB oracle check, then set-up (registering every fixture
  * table, three times). Timed: one forced scan of every table, then the
  * mix in order, wrapping around, until the run length is used (at least
  * two whole passes). Each pass ends with both stage builds, on a fresh copy
  * of the fixture so the per-application stage cache cannot serve them.
  */
object OlapBatch {
  /** TPC-H-shaped entries, then the operator-heavy ones. */
  val mix: Seq[String] = Seq(
    "q121_tpch_q3", "q124_tpch_q6",
    "q02_agg", "q05_join3_month",
    "q164_triangles")

  val stages: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq("dedup" -> SharedStages.dedupClusters, "copair" -> SharedStages.copurchasePairs)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val s = spark
    val dir = args.data

    phase("warm-up")
    // warm-up and correctness: one untimed pass, results dumped for the oracle
    val oracle = SparkEntry.oracleSql
    val declared = SparkEntry.queries
    val live = mix.filter { q =>
      try {
        val out = s"${args.work}/results/$q"
        val df = declared(q)(s, dir)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        oracle.get(q) match {
          // the oracle's numeric columns cast as graft.Verify casts them
          case Some(sql) => report.oracleChecks +=
            ((q, graft.queries.Protocol.wrapOracleTypes(sql, df.schema), out))
          case None => report.ok()
        }
        true
      } catch {
        case t: Throwable => report.fail(s"$q warm-up: $t"); false
      }
    }

    // let background JIT compilation of the warm-up's code settle
    Thread.sleep(2000)
    phase("setup")
    val setup = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.registerAll(s, dir)
      (System.nanoTime() - t0) / 1e9
    }
    report.metric("setup_s", Stats.median(setup))

    // per operation: (wall s, executor task s, executor cpu s) of each run
    val wall = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
    def keep(k: String, w: Double, work: Counters): Unit =
      wall.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((w, work.taskS, work.cpuNs / 1e9))
    var copies = 0
    def freshCopy(): String = {
      copies += 1
      val d = s"${args.work}/fixture_copy_$copies"
      new java.io.File(d).mkdirs()
      Tables.names.foreach { n =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(dir, n)),
          java.nio.file.Paths.get(Tables.path(d, n)))
      }
      d
    }
    /** One timed operation: drained edges so its task time is its own. */
    var scanWork = Counters()
    def op(key: String, trace: String)(body: => Unit): Unit = {
      obs.drain()
      val c0 = obs.counters()
      val ok = try { obs.time(key, trace)(body); true } catch {
        case t: Throwable => report.fail(s"$key: $t"); false
      }
      obs.drain()
      val work = obs.counters() - c0
      if (ok) {
        report.ok()
        keep(key, obs.samplesOf(key).last / 1e3, work)
        if (key == "scan.load") scanWork = work
      }
      // outside the operation, as in graft.Bench: the GC lets the
      // ContextCleaner reap its broadcasts and shuffles before the next one
      obs.time("bench.between_ops", trace) { s.catalog.clearCache(); System.gc() }
    }

    phase("timed")
    obs.drain()
    val c0 = obs.counters()
    val t0 = System.nanoTime()
    op("scan.load", "scan") {
      Tables.names.foreach(n => obs.time("scan.table", "scan")(force(Tables.load(s, dir, n))))
    }
    // one client: the next operation starts when the last returned, in mix
    // order, until the run length is used and at least two whole passes
    // are done (a per-operation median needs more than one sample)
    val ops: Seq[(String, (String, String) => Unit)] = live.map { q =>
      s"query.$q" -> { (trace: String, _: String) =>
        val (df, _) = obs.time("query.build", trace)(declared(q)(s, dir))
        obs.time("query.exec", trace)(force(df))
        ()
      }
    } ++ stages.map { case (n, b) =>
      s"shared_stage.$n" -> { (_: String, copy: String) => force(b(s, copy)) }
    }
    var pass = 0
    var i = 0
    while (pass < 2 || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val (key, body) = ops(i)
      val input = if (key.startsWith("shared_stage")) obs.time("bench.copy_fixture", key)(freshCopy())._1
        else dir
      val trace = s"$key-${pass + 1}"
      op(key, trace)(body(trace, input))
      i = (i + 1) % ops.length
      if (i == 0) pass += 1
    }
    val t1 = System.nanoTime()
    phase("done")
    obs.drain()
    val total = obs.counters() - c0
    val wallS = (t1 - t0) / 1e9

    def med(k: String): (Double, Double, Double) = {
      val xs = wall.getOrElse(k, mutable.ArrayBuffer.empty).sortBy(_._1)
      if (xs.isEmpty) (Double.NaN, Double.NaN, Double.NaN) else xs((xs.length - 1) / 2)
    }
    val opKeys = ops.map(_._1)
    val opWalls = opKeys.flatMap(k => wall.getOrElse(k, Nil).map(_._1))
    report.metric("suite_s", opKeys.map(k => med(k)._1).sum)
    report.metric("cpu_s", opKeys.map(k => med(k)._3).sum)
    report.metric("latency_ms", Stats.gmean(opKeys.map(k => med(k)._1 * 1e3)))
    report.info("latency_p50_ms", Stats.pct(opWalls, 50) * 1e3)
    report.info("latency_p90_ms", Stats.pct(opWalls, 90) * 1e3)
    report.info("latency.samples", opWalls.length)
    report.info("passes", pass + i.toDouble / ops.length)
    report.info("batch.suite_s", opKeys.map(k => med(k)._1).sum)
    report.info("batch.task_s", opKeys.map(k => med(k)._2).sum)

    live.foreach { q =>
      report.layer(s"query.$q.wall_s", med(s"query.$q")._1)
      report.layer(s"query.$q.task_s", med(s"query.$q")._2)
    }
    // planning (the call that returns the frame) against execution (forcing it),
    // per pass over the mix
    val passes = pass + i.toDouble / ops.length
    report.layer("query.build_s", obs.samplesOf("query.build").sum / 1e3 / passes)
    report.layer("query.exec_s", obs.samplesOf("query.exec").sum / 1e3 / passes)
    stages.foreach { case (n, _) =>
      report.layer(s"shared_stage.${n}_s", med(s"shared_stage.$n")._1)
      report.layer(s"shared_stage.${n}_task_s", med(s"shared_stage.$n")._2)
    }
    report.layer("scan.load_s", med("scan.load")._1)
    report.layer("scan.input_bytes", scanWork.inputBytes.toDouble)
    report.layer("scan.input_records", scanWork.inputRecords.toDouble)
    runtimeLayers(total, wallS)
    traceLayers(t0, t1)
  }
}
