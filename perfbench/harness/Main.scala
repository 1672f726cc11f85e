package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One bench-timed call inside an op: parse, build, plan, exec, or a
  * named leg of a multi-call op. Times are System.nanoTime.
  */
final case class Leg(name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One timed operation. `kind` separates the op families of a
  * workload; `attrs` carries per-op counts a workload wants to report.
  */
final class Op(val id: String) {
  var kind = ""
  var startNs = 0L
  var endNs = 0L
  var ok = true
  val legs = ArrayBuffer.empty[Leg]
  val attrs = scala.collection.mutable.Map.empty[String, Double]
  def ms: Double = (endNs - startNs) / 1e6
  def legMs(name: String): Double = legs.filter(_.name == name).map(_.ms).sum

  /** Time `body` as a leg of this op. */
  def leg[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally legs += Leg(name, t0, System.nanoTime())
  }
}

/** A workload drives graft's public functions only. Its store root is
  * the session's `spark.graft.store.root`: the harness gives the
  * warm-up one root and the set-up and timed ops another.
  */
trait Workload {
  /** Untimed first pass through the op's code paths (class loading,
    * JIT), once per process.
    */
  def warmup(s: SparkSession): Unit
  /** Build everything the timed loop needs, once. */
  def setup(s: SparkSession): Unit = ()
  /** Untimed preparation of the next op's input, between ops. */
  def beforeOp(s: SparkSession): Unit = ()
  /** Ops per round of the workload's op mix; the timed loop only stops
    * between rounds, so every run measures the same mix.
    */
  def cycle: Int = 1
  /** True while the workload still has fresh input for another op. */
  def hasNext: Boolean = true
  /** Run op number `i`; the caller has set the job group. */
  def run(s: SparkSession, op: Op, i: Int): Unit
  /** Untimed output checks: (name, passed, detail). */
  def check(s: SparkSession, ops: Seq[Op]): Seq[(String, Boolean, String)]
  /** Workload-specific end-to-end figures, named as in the README. */
  def detail(ops: Seq[Op]): Map[String, Double]
  /** Per-layer figures only the workload can see (sizes, counts). */
  def layers(ops: Seq[Op]): Map[String, Double] = Map.empty
  /** Knobs of the workload's own (templates, rules, cadences). */
  def knobs: Map[String, Any] = Map.empty
}

object Main {
  val StoreRoot = "spark.graft.store.root"

  /** The benchmark's session: one driver, every core, graft's
    * extensions, and every directory under `runDir`.
    */
  def session(runDir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoint")
      .config(StoreRoot, s"$runDir/store")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, data: String, seed: Long, tracer: Option[Tracer]): Workload =
    name match {
      case "promql_range" => new PromqlRange(data, seed, tracer)
      case "ruler_ingest" => new RulerIngest(data, tracer)
      case "curation_batch" => new CurationBatch(data, tracer)
      case other => sys.error(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val runDir = a("run")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(runDir, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w = Main.workload(workload, data, seed, tracer)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // The warm-up writes under a root of its own, so nothing the timed
    // ops read was built or cached by it.
    spark.conf.set(StoreRoot, s"$runDir/store/warmup")
    val warmupS = timed(w.warmup(spark))
    spark.conf.set(StoreRoot, s"$runDir/store/run")
    val setupS = timed(w.setup(spark))

    val gcBefore = gcMs()
    val ops = ArrayBuffer.empty[Op]
    val heapMb = ArrayBuffer.empty[Double]
    val storageBytes = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    val sc = spark.sparkContext
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 0
    while ((System.nanoTime() < deadline || i % w.cycle != 0) && w.hasNext) {
      w.beforeOp(spark)
      val op = new Op(f"op$i%05d")
      sc.setJobGroup(op.id, s"perfbench $workload op $i", interruptOnCancel = true)
      op.startNs = System.nanoTime()
      try w.run(spark, op, i)
      catch {
        case e: Throwable =>
          op.ok = false
          if (errors.size < 5) errors += s"${op.id} ${op.kind}: ${e.toString.take(300)}"
      }
      op.endNs = System.nanoTime()
      sc.clearJobGroup()
      ops += op
      heapMb += usedHeapMb()
      storageBytes += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble
      i += 1
    }
    val loopEnd = System.nanoTime()
    val gcLoop = gcMs() - gcBefore
    // what the driver still holds after the ops: memos, cached and
    // checkpointed blocks. The first GC lets Spark's ContextCleaner
    // drop broadcasts and shuffles nothing references; it works
    // asynchronously, so give it a moment before the GC that counts.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val liveHeapMb = usedHeapMb()

    val checkStart = System.nanoTime()
    val checks = try w.check(spark, ops.toSeq)
      catch { case e: Throwable => Seq(("check_run", false, e.toString.take(500))) }
    val checkS = (System.nanoTime() - checkStart) / 1e9

    val good = ops.filter(_.ok).toSeq
    val lat = good.map(_.ms)
    val (tailPct, tail) = Stats.tail(lat)
    val wall = (loopEnd - loopStart) / 1e9
    val endToEnd = Map(
      "setup_s" -> (sessionS + warmupS + setupS),
      "op_p50_ms" -> Stats.median(lat),
      "live_heap_mb" -> liveHeapMb)
    val detail = w.detail(good) ++ Map(
      "failed_frac" -> (ops.size - good.size).toDouble / math.max(1, ops.size),
      "op_tail_ms" -> tail, "peak_rss_mb" -> vmHwmMb())
    val perLayer = tracer.map { t =>
      t.finish()
      t.layerMetrics(good, cores) ++ w.layers(good) ++ Map(
        "jvm.heap_used_mb" -> Stats.median(heapMb.toSeq),
        "jvm.gc_ms" -> gcLoop,
        "spark.storage_bytes" -> (if (storageBytes.isEmpty) 0.0 else storageBytes.max))
    }

    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "attempted" -> ops.size, "failed" -> (ops.size - good.size),
      "correct" -> checks.forall(_._2),
      "checks" -> checks.map { case (n, ok, d) =>
        Json.obj("name" -> n, "ok" -> ok, "detail" -> d) },
      "errors" -> errors.toSeq,
      "end_to_end" -> endToEnd,
      "detail" -> detail,
      "per_layer" -> perLayer.getOrElse(Map.empty),
      "samples" -> Json.obj(
        "op_n" -> lat.size, "op_tail_pct" -> tailPct,
        "setup_session_s" -> sessionS, "setup_warmup_s" -> warmupS,
        "setup_build_s" -> setupS,
        "loop_wall_s" -> wall, "check_s" -> checkS),
      "workload_knobs" -> w.knobs)
    Files.write(Paths.get(runDir, "record.json"), record.json.getBytes(UTF_8))
    tracer.foreach(_.writeSpans(s"$runDir/spans.json", ops.toSeq))
    spark.stop()
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def usedHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Peak resident set of this JVM (the benchmark's driver), from
    * /proc; 0 where /proc is absent.
    */
  private def vmHwmMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.isFile) return 0.0
    Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Class-data-sharing training run (perfbench/build.py): one process
  * runs every workload's warm-up, so the archive the JVM dumps at exit
  * holds the classes all of them load.
  *
  * args: runDir, then workload and data directory pairs.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val runDir = args.head
    val spark = Main.session(runDir, Runtime.getRuntime.availableProcessors())
    for (Array(name, data) <- args.tail.grouped(2)) {
      spark.conf.set(Main.StoreRoot, s"$runDir/store/$name")
      Main.workload(name, data, 0L, None).warmup(spark)
    }
    spark.stop()
  }
}

/** The generator's knobs.json, read back for the few numbers the
  * harness needs (the record carries the whole file).
  */
final class Knobs(json: String) {
  def long(key: String): Long =
    ("\"" + java.util.regex.Pattern.quote(key) + "\":\\s*(-?[0-9]+)").r
      .findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(sys.error(s"knob $key missing"))
}

object Knobs {
  def read(dir: String): Knobs =
    new Knobs(new String(Files.readAllBytes(Paths.get(dir, "knobs.json")), UTF_8))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); with ten or fewer samples, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    if (xs.isEmpty) return (100.0, 0.0)
    val s = xs.sorted
    if (s.size <= 10) (100.0, s.last)
    else (100.0 * (s.size - 10) / s.size, s(s.size - 11))
  }

  def sha(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.sorted.mkString("\n").getBytes(UTF_8))
      .take(12).map("%02x".format(_)).mkString

  /** Bytes of regular files under `dir` (0 when absent). */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }
}

/** Already-serialized JSON. */
final case class Raw(json: String)

/** Minimal JSON writer for the run record. */
object Json {
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${of(v)}" }.mkString("{", ",", "}"))

  def of(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${of(x)}" }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
