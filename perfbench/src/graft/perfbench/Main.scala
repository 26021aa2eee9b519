package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --data <dir>
  *  --work <dir> --expected <file> [--record]`
  *
  * Prints one JSON object as its last stdout line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}`.
  * With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
  * the per-layer ones. `--record` rewrites the expected output checks. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, expected: String,
      record: Boolean, dataGenS: Double) {
    def cores: Int = Runtime.getRuntime.availableProcessors()
  }

  final class Result {
    var attempted = 0
    var failed = 0
    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def json: String = {
      val ms = metrics.map { case (k, (v, u)) =>
        val num = if (v.isNaN || v.isInfinite) "0" else v.toString
        s""""$k":{"value":$num,"unit":"$u"}"""
      }.mkString(",")
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
    }
  }

  /** Workloads whose rows write the engine's hard-coded `/tmp/graft_*`
    * paths; only they get the [[RootedLocalFs]] file system. */
  val rooted = Set("ops_sf01")

  def session(a: Args, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (rooted(a.workload)) {
      b.config("spark.hadoop.fs.file.impl", classOf[RootedLocalFs].getName)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[RootedAbstractFs].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Percentile with linear interpolation between order statistics. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--data"), get("--work"),
      get("--expected"), argv.contains("--record"),
      m.get("--datagen-s").map(_.toDouble).getOrElse(0.0))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = a.workload match {
      case "ops_sf01" => Batch.run(a)
      case "wordcount_stream" => StreamWorkload.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    println(result.json)
    Console.out.flush()
  }
}
