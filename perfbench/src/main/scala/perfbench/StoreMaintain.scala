package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Tables
import graft.operators.AnnIvf
import graft.streaming.{LshIndex, Loader, VersionedView}

/** `store_maintain`: closed loop, one client, pushing a seeded sequence of
  * micro-batches straight through the maintained-store sinks, each commit
  * followed by a read-after-write probe:
  *
  *  - `VersionedView.mergeSink` keyed by event_id (q92 shape), probed with
  *    `VersionedView.read`;
  *  - `VersionedView.retractAggSink` over events as changes (q241 shape),
  *    probed with `readAgg`;
  *  - `LshIndex.nearDupSink` over documents (q236 shape), probed with
  *    `Loader.readTable` over the pairs feed;
  *  - `AnnIvf.appendToIndexStorePq` over embeddings (q276 shape), probed
  *    with `topKIndexedStoreAdc`;
  *  - every [[CompactEvery]] steps, `LshIndex.compactStore` and
  *    `AnnIvf.compactIndexStore`.
  *
  * Batches are sliced from the seeded fixture; from the second batch on, a
  * seeded share of each batch re-sends or updates rows of earlier batches.
  * They are written, read back and cached during set-up, so the timed
  * region never scans the fixture. After the run the final views, pairs and
  * index are checked against one-shot recomputations over the rows pushed.
  */
object StoreMaintain {
  val Batches = 6
  val CompactEvery = 2
  private val centroids = Array.tabulate(8)(i => Array.tabulate(64)(d => if (d == i) 1.0 else 0.0))
  private def valueMicro = round(col("value") * 1000000L).cast("long")

  final case class Step(events: DataFrame, docs: DataFrame, vecs: DataFrame, userBytes: Long)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val s = spark
    val rng = new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(s"store_maintain/${args.seed}"))
    val resendShare = 0.15 + 0.1 * rng.nextDouble()

    // seeded batch plan: a permutation of each source, cut into Batches
    // slices; batch b > 0 also re-sends or updates rows of earlier slices
    def plan[T](rows: IndexedSeq[T], update: (T, Int) => T): IndexedSeq[IndexedSeq[T]] = {
      val perm = rng.shuffle(rows)
      val size = (perm.length + Batches - 1) / Batches
      val slices = perm.grouped(size).toIndexedSeq
      slices.zipWithIndex.map { case (sl, b) =>
        if (b == 0) sl else {
          val seen = sl.toSet
          val earlier = slices.take(b).flatten
          val extra = (1 to (sl.length * resendShare).toInt).map(_ => earlier(rng.nextInt(earlier.length)))
            .distinct.filterNot(seen)
          sl ++ extra.map(r => if (rng.nextBoolean()) r else update(r, b))
        }
      }
    }
    phase("plan")
    val evSrc = Tables.load(s, args.data, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val docSrc = Tables.load(s, args.data, "documents").select("doc_id", "text")
    val vecSrc = Tables.load(s, args.data, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // an update moves the change b seconds later with a new value, so the
    // latest version of a row is unambiguous
    val evPlan = plan[Row](evSrc.collect().toIndexedSeq, (r, b) => Row(r.getLong(0),
      new java.sql.Timestamp(r.getTimestamp(1).getTime + b * 1000L), r.getLong(2),
      r.getString(3), (math.round(r.getDouble(4) * 100) * 7 + b) % 49000 / 100.0))
    val docPlan = plan[Row](docSrc.collect().toIndexedSeq, (r, _) => r)
    val vecPlan = plan[Row](vecSrc.collect().toIndexedSeq, (r, _) => r)

    // set-up, three times: each source's batch sequence becomes one cached
    // frame with a batch column; a step's micro-batch is a filter over it,
    // so the timed region never scans the fixture
    def land(plan: IndexedSeq[IndexedSeq[Row]], schema: org.apache.spark.sql.types.StructType) = {
      val rows = plan.zipWithIndex.flatMap { case (rs, b) => rs.map(r => Row.fromSeq(r.toSeq :+ b)) }
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema.add("_b", "int"))
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    phase("setup")
    var sources: Seq[DataFrame] = Nil
    val setup = (1 to 3).map { _ =>
      sources.foreach(_.unpersist())
      val t0 = System.nanoTime()
      sources = Seq(land(evPlan, evSrc.schema), land(docPlan, docSrc.schema), land(vecPlan, vecSrc.schema))
      (System.nanoTime() - t0) / 1e9
    }
    report.metric("setup_s", Stats.median(setup))
    // user bytes: the cached columnar size, shared out by rows per batch
    val perRow = sources.zip(Seq(evPlan, docPlan, vecPlan)).map { case (df, pl) =>
      df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / pl.map(_.length).sum }
    val steps = (0 until Batches).map { b =>
      val Seq(ev, dc, vc) = sources.map(_.filter(col("_b") === b).drop("_b"))
      Step(ev, dc, vc, Seq(evPlan, docPlan, vecPlan).zip(perRow)
        .map { case (pl, r) => pl(b).length * r }.sum.toLong)
    }

    val root = s"${args.work}/stores"
    val (mergeOut, stateOut, aggOut) = (s"$root/merge", s"$root/state", s"$root/agg")
    val (lshStore, pairs, marks, idx) =
      (s"$root/lsh", s"$root/pairs", s"$root/lsh_markers", s"$root/ivfpq")
    val merge = VersionedView.mergeSink(mergeOut, Seq("event_id"))
    val retract = VersionedView.retractAggSink(stateOut, aggOut, Seq("k"),
      Seq("ts", "event_id"), "op", groupCol = col("k") % 50, valueMicro = valueMicro)
    val nearDup = LshIndex.nearDupSink(lshStore, pairs, marks)
    def changes(ev: DataFrame) = ev.select((col("user_id") % 500).as("k"), col("ts"),
      col("event_id"), col("value"), when(col("event_id") % 11 === 0, "D").otherwise("U").as("op"))

    val commitMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val viewOut = mutable.ArrayBuffer.empty[Long]
    val storeOut = mutable.ArrayBuffer.empty[Long]
    var userBytes = 0L
    def commit(name: String, b: Int)(body: => Unit): Unit = {
      obs.drain()
      val c0 = obs.counters()
      try {
        val (_, ms) = obs.time(name, s"batch-$b")(body)
        if (b > 0 && name != "store.compact") commitMs += ms
        report.ok()
      } catch { case t: Throwable => report.fail(s"$name batch $b: $t") }
      obs.drain()
      val out = (obs.counters() - c0).outputBytes
      if (b > 0) (if (name.startsWith("view.")) viewOut else storeOut) += out
    }
    def probe(name: String, b: Int)(body: => Unit): Unit =
      try {
        val (_, ms) = obs.time(name, s"batch-$b")(body)
        report.ok()
        if (b > 0) readMs += ms
      } catch { case t: Throwable => report.fail(s"$name batch $b: $t") }
    def push(b: Int): Unit = {
      val st = steps(b)
      commit("view.merge_commit", b)(merge(st.events.select("event_id", "user_id", "event_type", "value"), b))
      probe("read.merge_view", b)(VersionedView.read(s, mergeOut).get.count())
      commit("view.retract_commit", b)(retract(changes(st.events), b))
      probe("read.agg_view", b)(VersionedView.readAgg(s, aggOut).get.collect())
      commit("store.lsh_commit", b)(nearDup(st.docs, b))
      probe("read.pairs", b)(Loader.readTableIfAny(s, pairs).foreach(_.count()))
      commit("store.ivfpq_commit", b)(AnnIvf.appendToIndexStorePq(st.vecs, centroids, idx, b))
      probe("read.ann", b)(AnnIvf.topKIndexedStoreAdc(s, idx,
        st.vecs.limit(3).select(col("vec_id").as("qid"), col("e").as("qe")), 3, centroids)
        .collect())
      if (b > 0) userBytes += st.userBytes
      if ((b + 1) % CompactEvery == 0) commit("store.compact", b) {
        LshIndex.compactStore(s, lshStore, upTo = b)
        AnnIvf.compactIndexStore(s, idx, upTo = b)
      }
    }

    phase("warm-up")
    push(0) // untimed: the first commit creates every store
    Thread.sleep(1000) // let background JIT compilation settle
    phase("timed")
    obs.drain()
    val c0 = obs.counters()
    val t0 = System.nanoTime()
    // whole steps while the next one is expected to end within the run
    // length (at least one)
    var b = 1
    while (b < Batches && (b == 1 ||
        (System.nanoTime() - t0) / 1e9 * b / (b - 1) <= args.seconds)) {
      push(b)
      b += 1
    }
    val t1 = System.nanoTime()
    phase("done")
    obs.drain()
    val total = obs.counters() - c0
    val pushed = b

    // one batch through every sink with its read-after-write probes: the
    // sum of the per-sink median commit and probe times, the executor cpu
    // seconds per batch, and the geometric mean of the per-sink median
    // commit latencies (the first sample of each is the warm-up batch)
    val sinks = Seq("view.merge_commit", "view.retract_commit", "store.lsh_commit", "store.ivfpq_commit")
    val probes = Seq("read.merge_view", "read.agg_view", "read.pairs", "read.ann")
    def medOf(n: String) = Stats.median(obs.samplesOf(n).drop(1))
    report.metric("suite_s", (sinks ++ probes).map(medOf).sum / 1e3)
    report.metric("cpu_s", total.cpuNs / 1e9 / (pushed - 1))
    report.metric("latency_ms", Stats.gmean(sinks.map(medOf)))
    report.info("latency.samples", commitMs.length)
    report.info("batches", pushed - 1)
    report.info("resend_share", resendShare)
    report.info("store.commit_p50_ms", Stats.pct(commitMs.toSeq, 50))
    report.info("store.commit_p90_ms", Stats.pct(commitMs.toSeq, 90))
    report.info("store.read_p50_ms", Stats.pct(readMs.toSeq, 50))
    report.info("store.read_p90_ms", Stats.pct(readMs.toSeq, 90))
    report.info("store.read_samples", readMs.length)
    report.info("store.task_s", total.taskS)

    report.layer("view.merge_commit_p50_ms", medOf("view.merge_commit"))
    report.layer("view.retract_commit_p50_ms", medOf("view.retract_commit"))
    report.layer("view.versions_retained", Seq(mergeOut, stateOut, aggOut)
      .map(VersionedView.versions(s, _).length).sum.toDouble)
    report.layer("view.bytes_written", viewOut.sum.toDouble)
    report.layer("store.lsh_commit_p50_ms", medOf("store.lsh_commit"))
    report.layer("store.ivfpq_commit_p50_ms", medOf("store.ivfpq_commit"))
    report.layer("store.compact_s", Stats.median(obs.samplesOf("store.compact")) / 1e3)
    report.layer("store.write_amp", (viewOut.sum + storeOut.sum).toDouble / math.max(1L, userBytes))
    val stores = Seq(root, s"${args.work}/warehouse")
    report.layer("store.files", stores.map(Dirs.dataFiles).sum.toDouble)
    report.layer("store.space_amp", stores.map(Dirs.bytes).sum.toDouble /
      math.max(1L, steps.take(pushed).map(_.userBytes).sum))
    report.layer("read.view_p50_ms", Stats.median(Seq("read.merge_view", "read.agg_view")
      .flatMap(obs.samplesOf(_).drop(1))))
    report.layer("read.pairs_p50_ms", medOf("read.pairs"))
    report.layer("read.ann_p50_ms", medOf("read.ann"))
    runtimeLayers(total, (t1 - t0) / 1e9)
    traceLayers(t0, t1)

    phase("check")
    check(ctx, steps.take(pushed), mergeOut, aggOut, pairs, idx)
  }

  /** One-shot recomputations over exactly the rows pushed. */
  private def check(ctx: Ctx, steps: Seq[Step], mergeOut: String, aggOut: String,
      pairs: String, idx: String): Unit = {
    import ctx._
    val s = spark
    def same(what: String, got: DataFrame, want: DataFrame): Unit =
      try {
        val g = got.persist(StorageLevel.MEMORY_ONLY)
        val w = want.persist(StorageLevel.MEMORY_ONLY)
        if (g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty) report.ok()
        else report.fail(s"$what differs from its one-shot recomputation")
        g.unpersist(); w.unpersist()
      } catch { case t: Throwable => report.fail(s"$what check: $t") }

    val ev = steps.zipWithIndex.map { case (st, b) => st.events.withColumn("_b", lit(b)) }.reduce(_ unionByName _)
    val lastByKey = Window.partitionBy("event_id").orderBy(col("_b").desc)
    same("merge view", VersionedView.read(s, mergeOut).get.select("event_id", "user_id", "event_type", "value"),
      ev.withColumn("_r", row_number().over(lastByKey)).filter(col("_r") === 1)
        .select("event_id", "user_id", "event_type", "value"))

    val ch = ev.select((col("user_id") % 500).as("k"), col("ts"), col("event_id"), col("value"),
      when(col("event_id") % 11 === 0, "D").otherwise("U").as("op")).distinct()
    val latest = Window.partitionBy("k").orderBy(col("ts").desc, col("event_id").desc)
    same("retract aggregate", VersionedView.readAgg(s, aggOut).get,
      ch.withColumn("_r", row_number().over(latest)).filter(col("_r") === 1 && col("op") =!= "D")
        .groupBy((col("k") % 50).as("g"))
        .agg(count(lit(1)).as("n_live"), sum(valueMicro).as("sum_micro")))

    val once = s"${args.work}/oneshot"
    val docs = steps.map(_.docs).reduce(_ unionByName _).dropDuplicates("doc_id")
    LshIndex.processBatch(docs, s"$once/lsh", s"$once/pairs", 0L)
    // a feed no batch emitted a pair into has no files at all
    def feed(dir: String) = Loader.readTableIfAny(s, dir)
      .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row], feedSchema))
    lazy val feedSchema = (Loader.readTableIfAny(s, pairs) orElse
      Loader.readTableIfAny(s, s"$once/pairs")).map(_.schema)
      .getOrElse(org.apache.spark.sql.types.StructType(Nil))
    same("near-dup pairs", feed(pairs), feed(s"$once/pairs"))

    val vecs = steps.map(_.vecs).reduce(_ unionByName _).dropDuplicates("vec_id")
    AnnIvf.buildIndexStorePq(vecs, centroids, s"$once/ivfpq")
    val qs = vecs.orderBy("vec_id").limit(5).select(col("vec_id").as("qid"), col("e").as("qe"))
    same("ivf-pq top-k", AnnIvf.topKIndexedStoreAdc(s, idx, qs, 3, centroids),
      AnnIvf.topKIndexedStoreAdc(s, s"$once/ivfpq", qs, 3, centroids))
  }
}

object Dirs {
  private def files(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (f.isDirectory) f.listFiles.toSeq.flatMap(c => if (c.isDirectory) files(c.getPath) else Seq(c))
    else if (f.isFile) Seq(f) else Nil
  }
  /** Bytes of the data files under `dir` (checksums and markers excluded). */
  def bytes(dir: String): Long = files(dir).filter(isData).map(_.length).sum
  def dataFiles(dir: String): Int = files(dir).count(isData)
  private def isData(f: java.io.File): Boolean =
    !f.getName.startsWith(".") && !f.getName.startsWith("_") && f.length > 0
}
