package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.api.Graft
import Main.{Args, Result, median, now, percentile, secs}

/** Keeps every micro-batch progress event (`recentProgress` drops old ones). */
class Progress extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized(events += e.progress)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] = synchronized(events.filter(_.id == id).toSeq)

  /** Micro-batch and state-store layer metrics over batches that read rows. */
  def layers(batches: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val bs = batches.filter(_.numInputRows > 0)
    if (bs.isEmpty) return Map.empty
    def dur(k: String) = median(bs.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val ops = bs.flatMap(_.stateOperators)
    Map(
      "stream.batches" -> bs.size.toDouble,
      "stream.batch_ms_p50" -> dur("triggerExecution"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "state.rows_total" -> bs.last.stateOperators.map(_.numRowsTotal.toDouble).sum,
      "state.rows_updated" -> median(bs.map(_.stateOperators.map(_.numRowsUpdated.toDouble).sum)),
      "state.memory_bytes" -> bs.last.stateOperators.map(_.memoryUsedBytes.toDouble).sum,
      "state.commit_ms" -> (if (ops.isEmpty) 0.0 else median(ops.map(_.commitTimeMs.toDouble))))
  }
}

object Progress {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + p.durationMs.get("triggerExecution")
}

/** The reference dataflow: `Graft.rollingWordCount` over lines of eight
  * Zipf-distributed words, into a `noop` sink in update mode. */
object StreamWorkload {
  // Frozen when the benchmark was defined, from a capacity of about 15 k
  // lines/s with 5,000-line batches on 4 cores: the light and heavy open-loop
  // rates are 25% and 60% of it. They are never derived per run.
  val RowsPerBatch = 5000L
  val LightRate = 3750L
  val HeavyRate = 9000L
  val Vocab = 100000
  /** Capacity batches per timed window (50,000 lines). */
  val BlockBatches = 10
  /** Lines pushed through the state check. */
  val CheckRows = 40000L

  /** One line per source row: eight words w<k> with k = floor(vocab^u) for
    * u uniform in [0, 1) from a seeded hash, so P(k) falls off as 1/k. */
  def lines(df: DataFrame, seed: Long): DataFrame = df.selectExpr(
    s"""concat_ws(' ', transform(sequence(0, 7), i -> concat('w', CAST(floor(pow(
       |${Vocab}D, pmod(xxhash64(value, i, ${seed}L), 1000000L) / 1000000D)) AS INT))))
       |AS text""".stripMargin)

  final case class Phase(events: Seq[StreamingQueryProgress], seconds: Double, ok: Boolean,
      creationMs: Long)

  /** Runs the word count on `source` for `seconds`, or until `batches`
    * micro-batches have completed if that comes first. */
  def runPhase(spark: SparkSession, a: Args, progress: Progress, name: String,
      source: DataFrame, seconds: Double, batches: Int = Int.MaxValue): Phase = {
    val ck = s"${a.work}/ckpt/$name"
    val q = Graft.rollingWordCount(lines(source, a.seed), "text")
      .writeStream.outputMode("update").format("noop").option("checkpointLocation", ck).start()
    val t0 = now
    var ok = true
    try {
      def done = q.exception.nonEmpty || secs(t0) >= seconds ||
        Option(q.lastProgress).exists(_.batchId + 1 >= batches)
      while (!done) Thread.sleep(10)
      ok = q.exception.isEmpty
    } finally q.stop()
    Heap.sample()
    PerfbenchBus.drain(spark.sparkContext)
    System.err.println(f"[perfbench] phase $name ${secs(t0)}%.1f s")
    // The rate source persists its creation time as the first entry of its
    // metadata log; row timestamps are laid out from it.
    val meta = new java.io.File(s"$ck/sources/0/0")
    val created = if (meta.exists) {
      scala.io.Source.fromFile(meta).getLines().toSeq.lastOption.map(_.trim.toLong).getOrElse(0L)
    } else 0L
    Phase(progress.of(q.id), secs(t0), ok, created)
  }

  def capacity(spark: SparkSession, a: Args, progress: Progress, name: String,
      seconds: Double, cores: Int, batches: Int = Int.MaxValue): Phase =
    runPhase(spark, a, progress, name, spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", RowsPerBatch).option("numPartitions", cores).load(), seconds,
      batches)

  def openLoop(spark: SparkSession, a: Args, progress: Progress, name: String,
      rate: Long, seconds: Double): Phase =
    runPhase(spark, a, progress, name, spark.readStream.format("rate")
      .option("rowsPerSecond", rate).option("numPartitions", a.cores).load(), seconds)

  final case class Cap(passS: Double, linesPerS: Double, batches: Seq[StreamingQueryProgress])

  /** Capacity over the last two thirds of the phase's batches (the first
    * third still warms up): the pass is the median wall time of every run
    * of `BlockBatches` consecutive batches. */
  def capacityOf(p: Phase): Cap = {
    val all = p.events.filter(_.numInputRows > 0)
    val bs = all.drop(all.size / 3)
    val blocks = bs.sliding(BlockBatches).filter(_.size == BlockBatches)
      .map(b => (Progress.endMs(b.last) - Progress.startMs(b.head)) / 1000.0).toSeq
    val span = if (bs.isEmpty) 0.0 else (Progress.endMs(bs.last) - Progress.startMs(bs.head)) / 1000.0
    Cap(if (blocks.isEmpty) Double.NaN else median(blocks),
      if (span > 0) bs.map(_.numInputRows).sum / span else Double.NaN, bs)
  }

  final case class Open(latency: Seq[Double], visibility: Seq[Double], lagStart: Double,
      lagEnd: Double, batches: Seq[StreamingQueryProgress])

  /** Line latency of an open-loop phase. The rate source makes second s
    * visible once it has passed and stamps its rows evenly across it, so a
    * row stamped t in a batch ending at E waited E - t; each second
    * contributes 100 evenly spaced samples. */
  def openOf(p: Phase): Open = {
    val bs = p.events.filter(_.numInputRows > 0).drop(1)
    def off(s: String): Double = Option(s).map(_.trim).filter(_.nonEmpty).map(_.toDouble).getOrElse(0.0)
    val lat = mutable.ArrayBuffer[Double]()
    val vis = mutable.ArrayBuffer[Double]()
    bs.foreach { b =>
      val src = b.sources.head
      val (s0, s1) = (off(src.startOffset).toLong, off(src.endOffset).toLong)
      for (s <- s0 until s1; j <- 0 until 100) {
        val t = p.creationMs + s * 1000 + (j + 0.5) * 10
        lat += Progress.endMs(b) - t
        vis += Progress.startMs(b) - t
      }
    }
    // Backlog when a batch ends: the newest visible second minus the
    // committed end offset.
    def lag(b: StreamingQueryProgress) =
      math.floor((Progress.endMs(b) - p.creationMs) / 1000.0) - off(b.sources.head.endOffset)
    Open(lat.toSeq, vis.toSeq, bs.headOption.map(lag).getOrElse(0.0),
      bs.lastOption.map(lag).getOrElse(0.0), bs)
  }

  /** State check: the same lines pushed through the stream in four
    * batches must leave exactly the counts a batch word count gives. */
  def stateCheck(spark: SparkSession, a: Args): Boolean = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    val q = Graft.rollingWordCount(lines(ms.toDF(), a.seed), "text").writeStream
      .outputMode("complete").format("memory").queryName("perfbench_state")
      .option("checkpointLocation", s"${a.work}/ckpt/state").start()
    try {
      val chunk = CheckRows / 4
      (0 until 4).foreach { i =>
        ms.addData(i * chunk until (i + 1) * chunk)
        q.processAllAvailable()
      }
      def counts(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val streamed = counts(spark.table("perfbench_state").select("word", "cnt"))
      val batch = counts(Graft.wordCount(
        lines(spark.range(0, 4 * chunk).toDF("value"), a.seed), "text").select("word", "cnt"))
      batch.nonEmpty && streamed == batch
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] state check failed: $e"); false
    } finally q.stop()
  }

  def run(a: Args): Result = {
    val res = new Result
    val progress = new Progress
    val S = a.seconds.toDouble
    // Set-up: session start plus a three-batch warm-up stream, on fresh
    // sessions; a fixed batch count keeps its time free of polling steps.
    var spark: SparkSession = null
    val setups = (1 to Batch.setupRepeats).map { k =>
      if (spark != null) spark.stop()
      val t0 = now
      spark = Main.session(a, a.cores)
      spark.streams.addListener(progress)
      capacity(spark, a, progress, s"warm$k", 10.0, a.cores, batches = 3)
      secs(t0)
    }
    val collector = new Collector
    var untracedCap: Option[Cap] = None
    if (a.trace) {
      untracedCap = Some(capacityOf(capacity(spark, a, progress, "cap0", 0.6 * S, a.cores)))
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
      spark.sparkContext.setLocalProperty(collector.SpanKey, "stream")
      collector.current = "stream"
    }
    Heap.reset()
    val tRun = now
    val capPhase = capacity(spark, a, progress, "cap", 0.6 * S, a.cores)
    val lightPhase = openLoop(spark, a, progress, "light", LightRate, 0.2 * S)
    val heavyPhase = openLoop(spark, a, progress, "heavy", HeavyRate, 0.2 * S)
    val runS = secs(tRun)
    val cap = capacityOf(capPhase)
    val light = openOf(lightPhase)
    val heavy = openOf(heavyPhase)
    PerfbenchBus.drain(spark.sparkContext)
    val agg = collector.sum(_ => true)
    // Untraced capacity phases before and after the traced run are the
    // reference for the tracing overhead.
    val untracedAfter = if (!a.trace) None else {
      spark.sparkContext.removeSparkListener(collector)
      spark.listenerManager.unregister(collector)
      Some(capacityOf(capacity(spark, a, progress, "cap2", 0.6 * S, a.cores)))
    }
    val tCheck = now
    val stateOk = stateCheck(spark, a)
    System.err.println(f"[perfbench] set-ups ${setups.mkString(" ")}; phases ${runS}%.1f s; " +
      f"state check ${secs(tCheck)}%.1f s")
    def openOk(p: Phase, o: Open) = p.ok && o.batches.nonEmpty && o.lagEnd <= o.lagStart + 1
    val oks = Seq(capPhase.ok && !cap.passS.isNaN, openOk(lightPhase, light),
      openOk(heavyPhase, heavy), stateOk)
    res.attempted = oks.size
    res.failed = oks.count(!_)
    if (!a.trace) {
      res.put("setup_s", median(setups), "s")
      res.put("pass_s", cap.passS, "s")
      res.put("latency_ms", percentile(light.latency, 50), "ms")
      res.put("live_heap_mb", median(Heap.samples), "MB")
    } else {
      spark.stop()
      // Single-threaded baseline: the same capacity phase on local[1].
      val one = Main.session(a, 1)
      one.streams.addListener(progress)
      val single = capacityOf(capacity(one, a, progress, "cap1", 0.25 * S, 1))
      Layers.put(res, Map(
        "stream.max_lines_per_s" -> cap.linesPerS,
        "stream.local1_lines_per_s" -> single.linesPerS,
        "stream.p99_ms_light" -> percentile(light.latency, 99),
        "stream.p50_ms_heavy" -> percentile(heavy.latency, 50),
        "stream.p99_ms_heavy" -> percentile(heavy.latency, 99),
        "source.lag_s" -> Seq(light.lagStart, light.lagEnd, heavy.lagStart, heavy.lagEnd).max,
        "source.visibility_ms" -> median(light.visibility ++ heavy.visibility),
        "trace.overhead" -> cap.passS / ((untracedCap.get.passS + untracedAfter.get.passS) / 2),
        "data.gen_s" -> a.dataGenS) ++
        Layers.exec(agg, runS, a.cores) ++ progress.layers(cap.batches))
      Trace.writeStream(a, Seq("cap" -> capPhase, "light" -> lightPhase, "heavy" -> heavyPhase))
    }
    res
  }
}
