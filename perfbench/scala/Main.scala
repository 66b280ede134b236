package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed call into graft. `build` runs the graft entry point and returns
  * the frame to force, or null for entry points that return Unit. */
final case class Op(name: String, kind: String, build: () => DataFrame)

/** A benchmark workload. `generate` derives its inputs from the seeded
  * tables, `pass` lists the ops of one pass. `check` runs every op once, untimed, before the timed
  * passes (the JIT and cache warm-up too), and records what the output
  * check needs. */
trait Workload {
  def inputSeed: Long
  /** The seeded tables the workload reads. */
  def tables: Seq[String]
  def minPasses: Int
  def generate(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, passNo: Int): Seq[Op]
  def check(spark: SparkSession, resDir: String): Seq[Map[String, Any]]
  /** Input rows one pass reads (the throughput numerator). */
  def rowsPerPass: Long
  def conf: Map[String, String] = Map.empty
}

/** JVM side of the benchmark: builds the session, generates the seeded
  * inputs, runs the untimed check pass and the timed closed loop, and
  * writes a JSON record for `run.py`, which checks outputs and prints the
  * metrics. `setup_s` is JVM start to the end of input generation plus the
  * median set-up repetition; it excludes the check pass.
  *
  * Args: workload seed seconds trace(0|1) workDir outJson cores */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out, coresS) = args
    val (seed, seconds, traced, cores) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadPerCore()
    val inDir = s"$work/in"
    val wl: Workload = workload match {
      case "tail_queries" => new TailQueries(inDir, seed)
      case "index_maintenance" => new IndexMaintenance(inDir, seed)
      case "corpus_kernels" => new CorpusKernels(inDir, s"$work/amp", seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // inputs are generated once; the rest of set-up (session start and
    // table resolution) is then repeated and its median added
    var spark = session(work, cores, wl.conf)
    Gen.write(spark, wl.inputSeed, inDir, wl.tables)
    wl.generate(spark)
    val toInputsS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupReps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.stop()
      spark = session(work, cores, wl.conf)
      wl.tables.foreach(n => graft.Tables(spark, inDir, n).schema)
      (System.nanoTime() - t0) / 1e9
    }

    val checkT0 = System.nanoTime()
    val checks = wl.check(spark, s"$work/res")
    val checkS = (System.nanoTime() - checkT0) / 1e9

    // timed closed loop: one client, no think time; passes repeat until
    // `seconds` of measured time have elapsed (at least `minPasses`). A
    // traced run alternates untraced and traced passes, so that it also
    // measures the tracing overhead.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opLayers = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    var passNo = 0
    var opId = 0
    val minPasses = if (traced) math.max(2, wl.minPasses) else wl.minPasses
    while (passNo < minPasses || measured < seconds) {
      val traceThis = traced && passNo % 2 == 1
      quiesce(spark)
      if (traceThis) tracer.get.attach()
      val ops = wl.pass(spark, passNo).map { op =>
        val t = if (traceThis) tracer else None
        t.foreach(_.begin())
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var built = s0
        var df: DataFrame = null
        var rows = -1L
        var err: String = null
        try {
          df = op.build()
          built = System.currentTimeMillis()
          // force through the frame's own physical plan, never count()
          rows = if (df == null) 0L else df.queryExecution.toRdd.count()
        } catch {
          case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}".take(300)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val s1 = System.currentTimeMillis()
        t.foreach { tr =>
          val c = tr.end(OpClock(opId, op.name, s0, math.max(built, s0), s1),
            Option(df).map(_.queryExecution))
          opLayers += Map("op" -> opId, "name" -> op.name, "kind" -> op.kind,
            "pass" -> passNo, "layers" -> c)
        }
        opId += 1
        Map("name" -> op.name, "kind" -> op.kind, "ms" -> ms, "rows" -> rows,
          "error" -> err)
      }
      if (traceThis) tracer.get.detach()
      val passMs = ops.map(_("ms").asInstanceOf[Double]).sum
      measured += passMs / 1000.0
      passes += Map("pass" -> passNo, "traced" -> traceThis, "ms" -> passMs, "ops" -> ops)
      passNo += 1
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "to_inputs_s" -> toInputsS, "setup_reps_s" -> setupReps,
      "setup_s" -> (toInputsS + median(setupReps)),
      "check_s" -> checkS, "checks" -> checks,
      "rows_per_pass" -> wl.rowsPerPass,
      "passes" -> passes.toSeq,
      "load" -> Seq(loadStart, loadPerCore()),
      "peak_rss_mb" -> peakRssMb())
    tracer.foreach { tr =>
      record("op_layers") = opLayers.toSeq
      record("self_ms") = Tracer.selfTimes(tr.spans.toSeq)
      record("spans") = tr.spans.map(s => Seq(s.id, s.op, s.name, s.layer, s.start, s.end,
        s.parent)).toSeq
    }
    spark.stop()
    Files.write(Paths.get(out), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  def session(work: String, cores: Int, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "2048")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // an unbounded generated-class cache (0): every class is compiled once,
      // in the check pass, and the timed passes measure the warm steady
      // state. With the default 100 entries they would measure LRU
      // churn that depends on the op order; with a tiny cache every task
      // recompiles.
      .config("spark.sql.codegen.cache.maxEntries", "0")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop cached data and let the ContextCleaner release the previous
    * pass's dead checkpoints before the next pass starts: GC and wait until
    * the persistent-RDD census stops shrinking (the discipline of
    * graft.Bench and graft.ScaleDrill), so no pass measures the backlog of
    * the one before. */
  private def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    var prev = -1
    var cur = spark.sparkContext.getPersistentRDDs.size
    var i = 0
    while (cur != prev && i < 12) {
      System.gc()
      Thread.sleep(300)
      prev = cur
      cur = spark.sparkContext.getPersistentRDDs.size
      i += 1
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadPerCore(): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val l = os.getSystemLoadAverage
    if (l < 0) -1.0 else l / os.getAvailableProcessors
  }

  private def peakRssMb(): Double = {
    val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8).split("\n")
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Order-independent content check of a frame: row count and the sum of
    * the low 32 bits of each row's xxhash64 over all columns. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
