package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import Main.{Args, Result, median, now, secs}

/** The batch workload `ops_sf01`: registry rows run through their public entry
  * point `SparkEntry.queries(name)(spark, dataDir)` and forced with a
  * `noop` write, so every output column is computed. */
object Batch {
  /** Iterative and eager operator rows: the most jobs per row in the
    * registry (tokenizer_drift, dedup_embedding_keep, bpe_merges) and a
    * reader of the at-rest IVF index. */
  val ops: Seq[String] = Seq(
    "tokenizer_drift", "dedup_embedding_keep", "bpe_merges", "knn_ivf_persisted")

  /** At-rest artifacts the ops rows read, built (and timed) during set-up. */
  val opsArtifacts: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "ivf_index" -> ((s, d) => graft.queries.Similarity.ensurePersistedIvf(s, d)))

  /** How many times session start is repeated in set-up. */
  val setupRepeats = 3

  final case class RowRun(name: String, span: String, callS: Double, actionS: Double,
      ok: Boolean)

  /** Order-insensitive content hash of a DataFrame: per-row xxhash64 over
    * every column, masked to 32 bits and summed. Types xxhash64 rejects
    * are hashed through their string form. */
  def hashColumn(df: DataFrame): Column = {
    def hashable(t: DataType): Boolean = t match {
      case _: MapType | _: VariantType | _: CalendarIntervalType => false
      case a: ArrayType => hashable(a.elementType)
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val cols = df.schema.fields.map { f =>
      if (hashable(f.dataType)) col(s"`${f.name}`") else col(s"`${f.name}`").cast("string")
    }
    sum(xxhash64(cols.toIndexedSeq: _*).bitwiseAND(lit(0xFFFFFFFFL)))
  }

  def cleanup(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def run(a: Args): Result = {
    val res = new Result
    val checks = new Checks(a.expected, a.workload, a.record)
    // Set-up: session start, repeated on fresh sessions (the last is kept),
    // then the artifact builds once: rebuilding them per session costs more
    // than the run budget has. The warm-up pass adds to it.
    var spark: SparkSession = null
    val starts = (1 to setupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now
      spark = Main.session(a, a.cores)
      secs(t0)
    }
    val built = opsArtifacts.map { case (n, f) => val t = now; f(spark, a.data); n -> secs(t) }.toMap
    var warmS = 0.0
    System.err.println(s"[perfbench] session starts ${starts.mkString(" ")}; artifacts $built")

    val sc = spark.sparkContext
    val collector = new Collector
    var traced = false
    val rng = new scala.util.Random(a.seed)

    def runRow(name: String, span: String): RowRun = {
      sc.setJobGroup(span, name)
      def phase(p: String): Unit = {
        if (traced) { PerfbenchBus.drain(sc); collector.current = s"$span/$p" }
        sc.setLocalProperty(collector.SpanKey, s"$span/$p")
      }
      phase("call")
      val t0 = now
      var t1 = 0L
      var t2 = 0L
      val ok = try {
        val df = SparkEntry.queries(name)(spark, a.data)
        t1 = now
        phase("action")
        val obs = Observation(s"check_${span.replace('/', '_')}")
        df.observe(obs, count(lit(1)).as("rows"), hashColumn(df).as("hash"))
          .write.format("noop").mode("overwrite").save()
        t2 = now
        val m = obs.get
        checks.check(name, m("rows").asInstanceOf[Long],
          Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        if (t1 == 0L) t1 = now
        if (t2 == 0L) t2 = now
        false
      }
      phase("cleanup")
      sc.clearJobGroup()
      cleanup(spark)
      val heap = Heap.sample()
      System.err.println(f"[perfbench] row $span ${secs(t0, t1)}%.3f + ${secs(t1, t2)}%.3f $ok heap $heap%.1f")
      RowRun(name, span, secs(t0, t1), secs(t1, t2), ok)
    }

    // One untimed warm-up pass pays the engine bring-up and each row's code
    // generation and JIT, so the timed passes run in the warm regime.
    def warmRow(name: String): Unit = {
      val t0 = now
      try SparkEntry.queries(name)(spark, a.data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $name failed: $e") }
      cleanup(spark)
      System.err.println(f"[perfbench] warm-up $name ${secs(t0)}%.3f")
      warmS += secs(t0)
    }
    def pass(p: Int): Seq[RowRun] =
      rng.shuffle(ops).zipWithIndex.map { case (n, i) => runRow(n, s"p$p/r$i/$n") }

    rng.shuffle(ops).foreach(warmRow)
    Heap.reset()
    val passes = mutable.ArrayBuffer[Seq[RowRun]]()
    def passS(p: Seq[RowRun]): Double = p.map(r => r.callS + r.actionS).sum
    if (!a.trace) {
      // One timed pass per 6 s of --seconds, at least one: a fixed count,
      // so a faster child never changes the estimator it is measured with.
      (0 until math.max(1, a.seconds / 6)).foreach(p => passes += pass(p))
    } else {
      // Untraced passes before and after the traced one are the reference
      // for the tracing overhead.
      passes += pass(0)
      traced = true
      sc.addSparkListener(collector)
      spark.listenerManager.register(collector)
      collector.resetStoragePeak()
      passes += pass(1)
      PerfbenchBus.drain(sc)
      traced = false
      sc.removeSparkListener(collector)
      spark.listenerManager.unregister(collector)
      passes += pass(2)
    }
    val runs = passes.flatten
    res.attempted = runs.size
    res.failed = runs.count(!_.ok)
    checks.save()

    // Each row's median forced time over the timed passes; their sum is a
    // typical pass, steadier than any single pass on a shared host.
    val perRow = runs.filter(_.ok).groupBy(_.name).view
      .mapValues(rs => median(rs.map(r => r.callS + r.actionS).toSeq)).values.toSeq
    if (!a.trace) {
      res.put("setup_s", median(starts) + built.values.sum + warmS, "s")
      res.put("pass_s", perRow.sum, "s")
      res.put("latency_ms", 1000 * Main.geomean(perRow), "ms")
      res.put("live_heap_mb", median(Heap.samples), "MB")
    } else {
      val tp = passes(1)
      val wall = passS(tp)
      val call = collector.sum(_.endsWith("/call"))
      val action = collector.sum(_.endsWith("/action"))
      val all = collector.sum(k => k.startsWith("p1/"))
      val gap = tp.map { r =>
        jobGap(collector, r.span, (r.callS + r.actionS) * 1000)
      }.sum / 1000
      Layers.put(res, Map(
        "query.call_s" -> tp.map(_.callS).sum,
        "query.call_jobs" -> call.jobs.toDouble,
        "query.action_s" -> tp.map(_.actionS).sum,
        "query.action_jobs" -> action.jobs.toDouble,
        "query.call_share" -> tp.map(_.callS).sum / wall,
        "catalyst.plan_s" -> all.planMs / 1000.0,
        "exec.job_gap_s" -> gap,
        "storage.peak_mb" -> collector.storagePeak / 1048576.0,
        "artifact.ivf_index_s" -> built.getOrElse("ivf_index", 0.0),
        "trace.overhead" -> wall / ((passS(passes(0)) + passS(passes(2))) / 2),
        "data.gen_s" -> a.dataGenS) ++
        Layers.exec(all, wall, a.cores))
      Trace.write(a, collector, tp)
    }
    res
  }

  /** Wall time of a row during which none of its jobs ran, in ms. */
  def jobGap(c: Collector, span: String, wallMs: Double): Double = {
    val iv = c.jobs.filter(j => j._1 == s"$span/call" || j._1 == s"$span/action")
      .map(j => (j._3, j._4)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    math.max(0.0, wallMs - covered)
  }
}

/** Expected row count and content hash per registry row, kept in the
  * benchmark's `expected.json`. Every row in the workloads gives a
  * bit-stable hash across seeds, so no row is checked by count alone. */
class Checks(path: String, workload: String, record: Boolean) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val root = {
    val f = new java.io.File(path)
    if (f.exists) mapper.readTree(f).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    else mapper.createObjectNode()
  }
  private val seen = mutable.LinkedHashMap[String, (Long, Long)]()

  def check(name: String, rows: Long, hash: Long): Boolean = {
    // An empty output would match any row that lost all its output, so it is
    // never recorded and never passes.
    if (rows == 0) {
      System.err.println(s"[perfbench] check failed: $name returned no rows")
      return false
    }
    seen(name) = (rows, hash)
    if (record) return true
    val e = Option(root.get(workload)).flatMap(w => Option(w.get(name)))
    val ok = e.exists { n =>
      n.get("rows").asLong == rows && n.get("hash").asLong == hash
    }
    if (!ok) System.err.println(s"[perfbench] check failed: $name rows=$rows hash=$hash " +
      s"expected=${e.getOrElse("none")}")
    ok
  }

  def save(): Unit = if (record) {
    val w = root.putObject(workload)
    seen.toSeq.sortBy(_._1).foreach { case (n, (r, h)) =>
      w.putObject(n).put("rows", r).put("hash", h)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), root)
  }
}
