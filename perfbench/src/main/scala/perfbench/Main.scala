package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.ArtifactStore

/** Arguments handed over by `run.py`; every path is inside the run's
  * own directory, which `run.py` deletes afterwards. */
final case class Args(
    workload: String,
    data: String,       // measured inputs
    small: String,      // warm-up inputs
    work: String,       // scratch root for stores and outputs
    out: String,        // raw JSON record written here
    seconds: Double,
    seed: Long,
    trace: Boolean,
    rounds: Int,        // whole rounds measured at least
    stride: Int,        // olap measures every stride-th eligible query
    cuts: Seq[String])  // pipeline feed cut dates, last one past all data

/** Wall-clock windows of the measured operations. `start`/`end` are
  * epoch milliseconds, the clock Spark's listener events use, so the
  * traced jobs can be clipped to them; `s` is the nanosecond-timer
  * duration the end-to-end metrics use. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Json.Obj]
  var rounds = 0
  private val t0 = System.nanoTime()

  /** Whether another whole round is due: until both the minimum count
    * and the measuring time are reached. */
  def more(a: Args): Boolean =
    rounds < a.rounds || (System.nanoTime() - t0) / 1e9 < a.seconds

  def time[T](kind: String, name: String = "")(body: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    ops += Json.obj("kind" -> kind, "name" -> name, "round" -> rounds,
      "start" -> w0,
      "end" -> System.currentTimeMillis(), "s" -> s)
    r
  }
}

object Main {

  /** Full materialisation of a result without returning it: every row
    * and column is computed, so Catalyst cannot prune what a user
    * would receive (which `count()` would let it do). */
  def materialise(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Result dump in the format `tools/check.py` reads: one parquet
    * file, timestamps as INT96 (tz-naive for pandas), as Verify does. */
  def dump(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try df.coalesce(1).write.mode("overwrite").parquet(dir)
    finally spark.conf.set(key, prior)
  }

  def dirBytes(dir: String): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) { bytes += f.length; files += 1 }
    walk(new java.io.File(dir))
    (bytes, files)
  }

  private def session(a: Args, cores: Int): SparkSession = {
    val s = graft.SparkTuning(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("data"), m("small"), m("work"), m("out"),
      m("seconds").toDouble, m("seed").toLong, m("trace") == "1",
      m.get("rounds").map(_.toInt).getOrElse(1),
      m.get("stride").map(_.toInt).getOrElse(1),
      m.get("cuts").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "olap" => Olap
      case "ingest" => Ingest
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(a, cores)
    wl.warm(spark, a)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.2f s")
    spark.catalog.clearCache()
    ArtifactStore.drainBuilds(): Unit
    val trace = if (a.trace) Some(new Trace(spark)) else None
    Trace.resetHeapPeak()
    val rec = new Recorder
    val extra = wl.run(spark, a, rec)
    val heapPeak = Trace.heapPeak()
    val builds = ArtifactStore.drainBuilds().size
    val record = Json.obj(
      "workload" -> a.workload, "cores" -> cores,
      "setup_s" -> setupS, "rounds" -> rec.rounds,
      "ops" -> rec.ops.toSeq, "heap_peak" -> heapPeak,
      "artifact_builds" -> builds, "extra" -> extra,
      "trace" -> trace.map(_.result()))
    // a check that needs the session (outputs, uniqueness) runs after
    // the trace is closed, so it never shows in the per-layer figures
    val checks = wl.finish(spark, a)
    Files.writeString(Paths.get(a.out),
      Json.render(record + ("checks" -> checks)))
    spark.stop()
  }
}

/** One workload: a warm-up on the small input (part of set-up), the
  * measured rounds, and the post-run output dumps and checks. */
trait Workload {
  def warm(spark: SparkSession, a: Args): Unit
  def run(spark: SparkSession, a: Args, rec: Recorder): Json.Obj
  def finish(spark: SparkSession, a: Args): Json.Obj
}
