package perfbench

import java.io.File
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.model.{Tables, TradeTick}
import graft.sources.TickGen
import graft.streaming.{Ingest, Loader, Stateful}

/** `tick_pipeline`: the paper's path, open loop at a fixed offered rate.
  *
  * A separate feed process (perfbench/tickgen.py) serves TickGen ticks over
  * WebSocket with the RESUME protocol on a seeded schedule. The pipeline is
  * wired as in graft.tools.PipelineDemo, reading the feed through
  * `graft.sources.TickSocketProvider` with `transport=ws`:
  *
  *  - `Ingest.windowedTsvSink` stages 1-minute windows as TSV part files;
  *  - the benchmark plays the reference's S3 upload: once every tick of a
  *    window is committed to staging it renames the window's part files to
  *    `*.tsv` (span `upload.window`);
  *  - `Loader.start` loads them with a ProcessingTime trigger;
  *  - `Stateful.runningOhlc` reads the same source into the live bars.
  *
  * The event clock is compressed (one window per 0.25 s of wall). A window's
  * latency runs from the due time of its last tick to the end of the Loader
  * batch that committed it (which batch holds which file is read from the
  * Loader's source log); a bar's from the same due time to the end of the
  * collect in the bar sink. After the paced phase a burst is offered at
  * once and timed until fully loaded (the drain). Set-up, three times:
  * start the three queries on the warm-up port and wait until Ingest and
  * the bars have each finished a batch.
  */
object TickPipeline {
  val LoaderTrigger = "250 milliseconds"
  val SkipWindows = 4 // first windows of the timed run carry JIT warm-up
  val DrainDeadlineS = 60

  final case class Plan(rate: Double, perWindow: Int, msPerTick: Long, startMs: Long,
      paced: Int, burst: Int, burstAtS: Double, seed: Long, t0Ms: Long) {
    lazy val due: Array[Double] = {
      val s = seed * 0x100000001B3L
      Array.tabulate(paced)(i => (i + unsigned(splitmix64(s ^ i)) / math.pow(2, 64)) / rate) ++
        Array.fill(burst)(burstAtS)
    }
    /** Epoch milliseconds at which the last tick of window `w` was due. */
    def lastDueMs(w: Int): Double = t0Ms + 1e3 * due((w + 1) * perWindow - 1)
    def windows: Int = (paced + burst - 1) / perWindow
    def pacedWindows: Int = paced / perWindow
    def windowSec(w: Int): Long = startMs / 1000 + 60L * w
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def unsigned(x: Long): Double = if (x >= 0) x.toDouble else x.toDouble + math.pow(2, 64)

  private def readPlan(dir: String): Plan = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(dir, "gen_schedule.json"), classOf[java.util.Map[String, Object]]).asScala
    def num(k: String) = m(k).asInstanceOf[Number]
    Plan(num("rate").doubleValue, num("ticks_per_window").intValue, num("ms_per_tick").longValue,
      num("start_ms").longValue, num("paced").intValue, num("burst").intValue,
      num("burst_at_s").doubleValue, num("seed").longValue,
      Option(m("t0_ms")).map(_.asInstanceOf[Number].longValue).getOrElse(-1L))
  }

  /** One running pipeline: its three queries and directories. */
  final class Pipeline(ctx: Ctx, port: Int, val root: String) {
    import ctx.spark.implicits._
    val staging = s"$root/staging"
    val table = s"$root/table"
    val bars = new java.util.concurrent.ConcurrentLinkedQueue[(Stateful.OhlcBar, Long)]()
    private def source(): DataFrame = ctx.spark.readStream
      .format(classOf[graft.sources.TickSocketProvider].getName)
      .option("port", port.toString).option("transport", "ws").load()
    val ingest: StreamingQuery =
      Ingest.windowedTsvSink(Ingest.withEventTime(source()), staging, s"$root/cp_ingest")
    val ohlc: StreamingQuery = Stateful.runningOhlc(source().as[TradeTick]).writeStream
      .option("checkpointLocation", s"$root/cp_ohlc")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.OhlcBar], _: Long) =>
        val got = df.collect()
        val now = System.currentTimeMillis()
        got.foreach(b => bars.add(b -> now))
      }.start()
    val loader: StreamingQuery = Loader.start(ctx.spark, s"$staging/*", table,
      s"$root/archive", s"$root/cp_load", Trigger.ProcessingTime(LoaderTrigger))
    def stop(): Unit = Seq(ingest, ohlc, loader).foreach(q => try q.stop() catch { case _: Throwable => })
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val warmPort = args.opts("gen-warm-port").toInt
    val mainPort = args.opts("gen-main-port").toInt
    val progress = new LinkedBlockingQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)

    phase("setup")
    val setup = (1 to 3).map { r =>
      progress.clear()
      val t0 = System.nanoTime()
      val p = new Pipeline(ctx, warmPort, s"${args.work}/setup_$r")
      val need = mutable.Set(p.ingest.id, p.ohlc.id)
      val deadline = System.nanoTime() + 60e9.toLong
      while (need.nonEmpty && System.nanoTime() < deadline) {
        Option(progress.poll(100, TimeUnit.MILLISECONDS))
          .filter(_.numInputRows > 0).foreach(pr => need -= pr.id)
      }
      val took = (System.nanoTime() - t0) / 1e9
      p.stop()
      if (need.nonEmpty) report.error("pipeline set-up: no first batch within 60 s")
      took
    }
    report.metric("setup_s", Stats.median(setup))
    Thread.sleep(1000) // let background JIT compilation settle

    phase("timed")
    progress.clear()
    obs.drain()
    val c0 = obs.counters()
    val root = s"${args.work}/pipeline"
    val pipe = new Pipeline(ctx, mainPort, root)
    val startNs = System.nanoTime()
    // the feed fixes t0 when the pipeline connects
    val plan = Iterator.continually { Thread.sleep(20); readPlan(args.work) }
      .find(p => p.t0Ms >= 0 || System.nanoTime() - startNs > 60e9).get
    require(plan.t0Ms >= 0, "the tick feed never saw the pipeline connect")

    // upload step: renames each complete window's part files to *.tsv
    val uploads = new LinkedBlockingQueue[(Int, Long)]()
    var filesWritten = 0L
    val uploader = new Thread(() => {
      var live = true
      while (live) {
        val (w, readyMs) = uploads.take()
        if (w < 0) live = false else {
          val t0 = System.currentTimeMillis()
          val dir = new File(s"${pipe.staging}/window_start=${plan.windowSec(w)}")
          val parts = Option(dir.listFiles).getOrElse(Array.empty[File])
            .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
          parts.foreach(f => f.renameTo(new File(dir, f.getName.stripSuffix(".csv") + ".tsv")))
          filesWritten += parts.length
          val t1 = System.currentTimeMillis()
          obs.record("upload.window", s"window-$w", t0, t1)
          obs.sample("upload.lag", (t1 - readyMs).toDouble)
        }
      }
    }, "perfbench-upload")
    uploader.setDaemon(true)
    uploader.start()

    // progress handling: spans per trigger, window completion and loading
    val loadedAt = mutable.Map.empty[Int, Long]
    var nextUpload = 0
    var backlogMax = 0.0
    val busy = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val loaderFiles = mutable.ArrayBuffer.empty[Double]
    val stateRows = mutable.ArrayBuffer.empty[Double]
    val stateBytes = mutable.ArrayBuffer.empty[Double]
    val loaderLog = new File(s"$root/cp_load/sources/0")
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    def handle(p: StreamingQueryProgress): Unit = {
      val kind = if (p.id == pipe.ingest.id) "ingest" else if (p.id == pipe.ohlc.id) "ohlc"
        else if (p.id == pipe.loader.id) "loader" else ""
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (kind.nonEmpty && p.numInputRows > 0 && d.contains("triggerExecution")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val end = start + d("triggerExecution")
        val id = obs.record(s"$kind.trigger", s"$kind-batch-${p.batchId}", start, end)
        var at = start
        phases.filter(d.contains).foreach { ph =>
          obs.record(s"$kind.$ph", s"$kind-batch-${p.batchId}", at, at + d(ph), parent = id)
          at += d(ph)
        }
        if (end <= plan.t0Ms + 1000 * plan.burstAtS) busy(kind) += d("triggerExecution")
        kind match {
          case "ingest" =>
            val committed = p.sources.head.endOffset.trim.toLong
            val dueBy = plan.due.count(x => plan.t0Ms + 1e3 * x <= end)
            if (end <= plan.t0Ms + 1000 * plan.burstAtS) backlogMax = math.max(backlogMax, dueBy - committed)
            while (nextUpload < plan.windows && (nextUpload + 1L) * plan.perWindow <= committed) {
              uploads.add(nextUpload -> end)
              nextUpload += 1
            }
          case "loader" =>
            val wins = loaderWindows(p.batchId)
            loaderFiles += wins.size
            wins.foreach(w => loadedAt.getOrElseUpdate(w, end))
          case "ohlc" =>
            p.stateOperators.headOption.foreach { st =>
              stateRows += st.numRowsTotal.toDouble
              stateBytes += st.memoryUsedBytes.toDouble
              obs.sample("ohlc.state_commit", st.commitTimeMs.toDouble)
            }
          case _ =>
        }
      }
    }
    /** Windows whose files the Loader's batch `b` read, from its source log
      * (batch file `b`, or the compacted log that holds it).
      */
    def loaderWindows(b: Long): Set[Int] = {
      val f = Option(loaderLog.listFiles).getOrElse(Array.empty[File])
        .filter(x => x.getName == s"$b" || (x.getName.endsWith(".compact") &&
          x.getName.stripSuffix(".compact").toLong >= b))
        .sortBy(_.getName.length).headOption
      f.toSeq.flatMap(x => scala.io.Source.fromFile(x, "UTF-8").getLines().drop(1))
        .filter(l => l.contains(s"\"batchId\":$b}") || l.contains(s"\"batchId\":$b,"))
        .flatMap(l => "window_start=(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong))
        .map(sec => ((sec - plan.startMs / 1000) / 60).toInt).toSet
    }

    val burstMs = plan.t0Ms + (1000 * plan.burstAtS).toLong
    val deadline = burstMs + 1000L * DrainDeadlineS
    def allLoaded = (0 until plan.windows).forall(loadedAt.contains)
    while (!allLoaded && System.currentTimeMillis() < deadline) {
      Option(progress.poll(50, TimeUnit.MILLISECONDS)).foreach(handle)
    }
    val barsWanted = plan.windows
    while (pipe.bars.size < barsWanted && System.currentTimeMillis() < deadline + 5000) Thread.sleep(20)
    val endNs = System.nanoTime()
    phase("done")
    pipe.stop()
    Seq(pipe.ingest, pipe.ohlc, pipe.loader).flatMap(_.exception)
      .foreach(e => report.error(s"streaming query failed: ${e.getMessage}"))
    uploads.add(-1 -> 0L)
    uploader.join(10000)
    var rest = progress.poll()
    while (rest != null) { handle(rest); rest = progress.poll() }
    obs.drain()
    val total = obs.counters() - c0
    val pacedWall = (burstMs - plan.t0Ms) / 1e3

    // latencies of the paced windows (first SkipWindows excluded)
    val timedWins = SkipWindows until plan.pacedWindows
    val winLat = timedWins.flatMap(w => loadedAt.get(w).map(_ - plan.lastDueMs(w)))
    val barAt = pipe.bars.asScala.map { case (b, at) => ((b.windowStartSec - plan.startMs / 1000) / 60).toInt -> at }.toMap
    val barLat = timedWins.flatMap(w => barAt.get(w).map(_ - plan.lastDueMs(w)))
    val burstWins = plan.pacedWindows until plan.windows
    val drainS = if (burstWins.forall(loadedAt.contains)) (burstWins.map(loadedAt).max - burstMs) / 1e3
      else Double.NaN
    val ticks = plan.paced + plan.burst

    report.metric("latency_ms", Stats.median(winLat))
    report.metric("suite_s", drainS)
    report.metric("cpu_s", total.cpuNs / 1e9 / (ticks / 1e6))
    report.info("pipeline.window_latency_p50_ms", Stats.median(winLat))
    report.info("pipeline.window_latency_p90_ms", Stats.pct(winLat, 90))
    report.info("pipeline.window_latency_samples", winLat.length)
    report.info("pipeline.bar_latency_p50_ms", Stats.median(barLat))
    report.info("pipeline.bar_latency_p90_ms", Stats.pct(barLat, 90))
    report.info("pipeline.bar_latency_samples", barLat.length)
    report.info("pipeline.drain_ticks_per_s", plan.burst / drainS)
    report.info("pipeline.task_s_per_mtick", total.taskS / (ticks / 1e6))
    report.info("pipeline.offered_ticks_per_s", plan.rate)

    report.layer("source.backlog_ticks_max", backlogMax)
    report.layer("source.get_batch_p50_ms", Stats.median(obs.samplesOf("ingest.getBatch")))
    report.layer("ingest.trigger_p50_ms", Stats.median(obs.samplesOf("ingest.trigger")))
    report.layer("ingest.add_batch_p50_ms", Stats.median(obs.samplesOf("ingest.addBatch")))
    report.layer("ingest.wal_commit_p50_ms", Stats.median(obs.samplesOf("ingest.walCommit")))
    report.layer("ingest.busy_share", busy("ingest") / 1e3 / pacedWall)
    report.layer("ingest.files_written", filesWritten.toDouble)
    report.layer("upload.lag_p50_ms", Stats.median(obs.samplesOf("upload.lag")))
    report.layer("loader.trigger_p50_ms", Stats.median(obs.samplesOf("loader.trigger")))
    report.layer("loader.add_batch_p50_ms", Stats.median(obs.samplesOf("loader.addBatch")))
    report.layer("loader.busy_share", busy("loader") / 1e3 / pacedWall)
    report.layer("loader.files_per_batch", if (loaderFiles.isEmpty) 0.0 else Stats.median(loaderFiles.toSeq))
    report.layer("ohlc.trigger_p50_ms", Stats.median(obs.samplesOf("ohlc.trigger")))
    report.layer("ohlc.state_rows", stateRows.lastOption.getOrElse(0.0))
    report.layer("ohlc.state_bytes", stateBytes.lastOption.getOrElse(0.0))
    report.layer("ohlc.state_commit_p50_ms", Stats.median(obs.samplesOf("ohlc.state_commit")))
    runtimeLayers(total, (endNs - startNs) / 1e9)
    traceLayers(startNs, endNs)

    phase("check")
    check(ctx, plan, pipe, loadedAt.keySet.toSet)
    spark.streams.removeListener(listener)
  }

  /** Loaded rows and bars of every complete window against TickGen.at. */
  private def check(ctx: Ctx, plan: Plan, pipe: Pipeline, loaded: Set[Int]): Unit = {
    import ctx._
    val n = plan.windows * plan.perWindow
    val ticks = (0 until n).map(i => TickGen.at(i, plan.startMs, plan.msPerTick))
    val want = ticks.map { case (id, sym, price, qty, t, maker) =>
      Row(id, sym, BigDecimal(price).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal,
        BigDecimal(qty.dropRight(3)).bigDecimal, new java.sql.Timestamp(t / 1000 * 1000), maker)
    }
    val wantDf = spark.createDataFrame(spark.sparkContext.parallelize(want, 4), Tables.btcusdtSchema)
    val got = Loader.readTable(spark, pipe.table)
    val win = org.apache.spark.sql.functions.expr(s"int((bid div ${plan.perWindow}))")
    val bad = got.exceptAll(wantDf).unionByName(wantDf.exceptAll(got))
      .select(win.as("w")).distinct().collect().map(_.getInt(0)).toSet
    (0 until plan.windows).foreach { w =>
      if (!loaded(w)) report.fail(s"window $w not loaded by the deadline")
      else if (bad(w)) report.fail(s"window $w: loaded rows differ from TickGen.at")
      else report.ok()
    }
    val bars = pipe.bars.asScala.map(_._1).map(b => b.windowStartSec -> b).toMap
    (0 until plan.windows).foreach { w =>
      val ts = ticks.slice(w * plan.perWindow, (w + 1) * plan.perWindow)
      val prices = ts.map(_._3.toDouble)
      val vol = ts.map(_._4.toDouble).sum
      bars.get(plan.windowSec(w)) match {
        case Some(b) if b.open == prices.head && b.close == prices.last &&
            b.high == prices.max && b.low == prices.min && b.count == ts.length &&
            math.abs(b.volume - vol) <= 1e-9 * math.max(1.0, vol) => report.ok()
        case Some(_) => report.fail(s"bar of window $w differs from TickGen.at")
        case None => report.fail(s"no bar for window $w")
      }
    }
  }
}
