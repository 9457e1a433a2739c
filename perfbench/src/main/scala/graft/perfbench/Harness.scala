package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** One benchmark run in one JVM:
  * `Harness --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Order of a run: set up three times (median = `setup_s`), start or reuse
  * the session, time the first unit (`first_op_s`), time warm rounds of
  * units until `S` seconds have been measured, then check outputs. The
  * traced run also records both machine calibrations and the layer split.
  * The result goes to `DIR/result.json`; `run.py` adds the DuckDB oracle
  * check and prints the final line.
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, work: File)

  /** What a workload must provide. `unitKind` names the unit whose median
    * is `op_s`; all warm units count towards `ops_per_s`. */
  trait Workload {
    def unitKind: String
    /** Whether `setup` needs the Spark session (ETL set-up does not, so
      * its first job is the first Spark work of the process). */
    def setupUsesSpark: Boolean
    def setup(spark: => SparkSession): Unit
    def first(spark: SparkSession, rec: Recorder): Unit
    /** One warm round of units, each recorded through `rec.unit`. The
      * window holds whole rounds, so every run measures the same mix. */
    def next(spark: SparkSession, rec: Recorder): Unit
    /** Output checks; adds failures to `problems`, facts to `out`. */
    def check(spark: SparkSession, rec: Recorder, problems: mutable.Buffer[String],
              out: mutable.Map[String, Any]): Unit
    /** Metrics only this workload has: `metrics` on every run (they go to
      * the detail line), `traceMetrics` on the traced run. */
    def metrics(rec: Recorder, out: mutable.Map[String, Any]): Unit = ()
    def traceMetrics(rec: Recorder, out: mutable.Map[String, Any]): Unit = ()
  }

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")).getAbsoluteFile)
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    // wall clock per phase of the run, from JVM start
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseT = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = {
      val now = System.currentTimeMillis()
      phases(name) = (now - phaseT) / 1e3
      phaseT = now
    }
    phase("jvm")
    val wl: Workload = a.workload match {
      case "etl_reports" => new Etl(a)
      case "corpus_dedup" => new CorpusDedup(a)
      case "index_serve" => new IndexServe(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    val problems = mutable.ArrayBuffer.empty[String]

    var spark: SparkSession = null
    def startSession(): SparkSession = {
      if (spark == null) spark = session(a.work)
      spark
    }
    if (wl.setupUsesSpark) { startSession(); phase("session") }
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.setup(startSession())
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    if (spark == null) { startSession(); phase("session") }
    val rec = new Recorder(spark, a.traced)

    wl.first(spark, rec)
    phase("first")
    val firstUnits = rec.units.toVector
    rec.units.clear()
    // warm rounds until the window is used: a round is started only while
    // it is expected (from the last round's time) to end nearer the
    // window's end than it starts, so long rounds do not stretch the window
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastRound = 0.0
    while (rec.units.isEmpty || elapsed + lastRound / 2 < a.seconds) {
      val r0 = elapsed
      wl.next(spark, rec)
      lastRound = elapsed - r0
    }
    val gcMs = rec.gcMillis // from JVM start: a window alone may see no GC
    phase("warm")
    val warm = rec.units.toVector
    val attempted = firstUnits.size + warm.size
    val failed = (firstUnits ++ warm).count(!_.ok)
    problems ++= (firstUnits ++ warm).flatMap(_.error).distinct.take(5)

    // both machine calibrations of graft.Bench, so drift between boots can
    // be told apart from a code change; on the traced run only, as together
    // they take about as long as the measured window
    val calib = if (!a.traced) None else {
      val c = (graft.Bench.calibration(spark), graft.Bench.calibrationShuffle(spark))
      phase("calibration")
      Some(c)
    }

    wl.check(spark, rec, problems, out)
    phase("check")

    val primary = rec.samples(wl.unitKind)
    val m = mutable.LinkedHashMap.empty[String, Any]
    m("setup_s") = Stats.median(setups)
    m("first_op_s") = firstUnits.head.seconds
    if (primary.nonEmpty) m("op_s") = Stats.median(primary)
    val okWarm = warm.filter(_.ok)
    if (okWarm.nonEmpty) m("ops_per_s") = okWarm.size / okWarm.map(_.seconds).sum
    wl.metrics(rec, m)
    if (a.traced) {
      if (primary.nonEmpty) m("trace.op_s") = Stats.median(primary)
      m("calib.cpu_s") = calib.get._1
      m("calib.shuffle_s") = calib.get._2
      m("jvm.gc_s") = gcMs / 1e3
      m("jvm.heap_peak_mb") = Jvm.heapPeakMb
      m("stage.lease_ms") = Jvm.leaseMs(spark, new File(a.work, "lease-probe"))
      Layers.summarize(okWarm, m)
      wl.traceMetrics(rec, m)
    }

    out("workload") = a.workload
    out("seed") = a.seed
    out("traced") = a.traced
    out("attempted") = attempted
    out("failed") = failed
    out("problems") = problems.toSeq
    out("metrics") = m
    out("samples") = Map(
      "setup" -> setups.size, "warm_units" -> warm.size,
      wl.unitKind -> primary.size)
    out("unit_s") = warm.map(u => s"${u.kind}:${"%.3f".format(u.seconds)}")
    calib.foreach { case (c, sh) => out("calibration") = Map("cpu_s" -> c, "shuffle_s" -> sh) }
    out("phases_s") = phases
    Json.write(new File(a.work, "result.json"), out)
    spark.stop()
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** Peak heap of the run so far: the sum of the heap pools' peaks. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  /** Median of 20 empty `Stage.withWriterLease` round trips: the fixed
    * cost every leased index write pays. */
  def leaseMs(spark: SparkSession, root: File): Double = {
    root.mkdirs()
    val xs = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      graft.ops.Stage.withWriterLease(spark, root.getPath)(())
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(xs)
  }
}

/** The traced run's layer split, over the warm units.
  *
  * `<span>_pct` is the share of all warm units' wall time spent inside the
  * span of that name, so layers a workload never enters read 0 and the
  * shares of one workload can be compared across commits. Seconds and
  * counts are per unit (mean over warm units).
  */
object Layers {
  /** Spans whose share is reported, by workload layer. */
  val shareSpans: Seq[String] = Seq(
    "spec.config_read", "tables.jdbc_read", "compile", "sinks.append",
    "ext.minhash_lsh", "ext.simhash", "ext.ngram_jaccard", "ext.setsim_join",
    "ext.simhash_wide",
    "search.bm25", "search.conjunctive", "search.phrase", "search.proximity",
    "stage.append", "stage.tombstone", "stage.compact")

  /** Counts of layers only some workloads enter; the rest report 0. */
  val layerCounts: Seq[String] = Seq(
    "tables.jdbc_rows", "tables.jdbc_partitions", "sinks.rows", "sinks.partitions",
    "ext.minhash_lsh_rows", "ext.simhash_rows", "ext.ngram_jaccard_rows",
    "ext.setsim_join_rows", "ext.simhash_wide_rows",
    "stage.files_live", "stage.bytes_written_mb", "stage.disk_mb")

  def summarize(units: Seq[UnitSample], m: mutable.Map[String, Any]): Unit = {
    layerCounts.foreach(m(_) = 0.0)
    val n = units.size.toDouble
    val wall = units.map(_.seconds).sum
    def spanTotal(name: String) = units.map(_.spans.getOrElse(name, 0.0)).sum
    shareSpans.foreach(s => m(s + "_pct") = 100.0 * spanTotal(s) / wall)
    m("trace.coverage_pct") = 100.0 * units.map(_.topLevelS).sum / wall
    m("catalyst.plan_s") = spanTotal("catalyst.plan") / n
    m("exec.s") = spanTotal("exec") / n
    val ex = units.flatMap(_.exec)
    m("exec.jobs") = ex.map(_.jobs).sum / n
    m("exec.stages") = ex.map(_.stages).sum / n
    m("exec.tasks") = ex.map(_.tasks).sum / n
    m("exec.shuffle_mb") = ex.map(_.shuffleMb).sum / n
    m("exec.spill_mb") = ex.map(_.spillMb).sum / n
    m("exec.task_skew") = Stats.median(ex.map(_.taskSkew))
    m("exec.driver_gap_s") = ex.map(_.driverGapS).sum / n
  }
}

/** Just enough JSON for the result file. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => enc(other.toString)
  }

  def write(f: File, v: Any): Unit =
    java.nio.file.Files.write(f.toPath, (enc(v) + "\n").getBytes("UTF-8"))
}
