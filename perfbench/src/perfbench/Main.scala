package perfbench

import graft.{Calibration, SparkEntry, Tables}
import graft.etl.{Ingest, Pipeline}
import graft.functions.{NativeTextExpressions, VecKernels, VectorFunctions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Closed-loop benchmark: one client thread, one JVM, `local[N]`.
  *
  * Arguments are `key=value` pairs (see run.py, which computes every metric
  * from the record this writes):
  *   workload, seed, seconds, trace (0|1), warmup (untimed sequential
  *   passes), cpus, data (parquet tables),
  *   work (work dir, removed by the caller), ops (comma-separated query
  *   names, query workloads) or extracts (dir with day1/ and day2/ CSVs),
  *   out (run record JSON), spans (span JSONL, traced runs).
  *
  * One op is one call into the engine plus full materialization of its
  * result through the `noop` sink. An untimed pass first checks every op's
  * output; then passes run in a per-pass seeded order: `warmup` untimed,
  * then at least [[MinPasses]] timed and more until `seconds` is spent,
  * whole passes only. Each op is timed on its
  * own (wall, process CPU, GC), with an untimed full GC after it.
  */
object Main {
  val MinPasses = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = a("cpus").toInt
    val work = a("work")
    val dataDir = a("data")

    // Set-up, timed from JVM start: JVM start, class loading, session,
    // native functions, tables. A cold set-up happens once per process.
    val spark = startSession(cpus, work, dataDir)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3

    def progress(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    progress("set-up done")
    val loadBefore = loadavg()
    val calBefore = Calibration.measure(1)
    val workload: Workload = a("workload") match {
      case "daily_etl" => new DailyEtl(spark, a("extracts"), work)
      case _           => new Queries(spark, dataDir, a("ops").split(",").toSeq, work)
    }
    val check = workload.check()
    progress("check pass done")

    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    // CPU of the whole process, GC and JIT threads included, and the JIT
    // compiler threads' share of it: every pass compiles newly generated code.
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuSeconds = os.getProcessCpuTime / 1e9
    def gcSeconds = gcBeans.map(_.getCollectionTime).sum / 1e3
    val passes = collection.mutable.ArrayBuffer.empty[String]
    var t0 = 0L
    var p = 0
    // Sequential untimed passes first: a run keeps getting faster over its
    // first passes (JIT, caches), and side-by-side passes do not stand in
    // for them. Then at least MinPasses timed ones, and more while `seconds`
    // lasts. Traced runs alternate untraced and traced timed passes.
    val warmUp = a("warmup").toInt
    def more = p < warmUp + MinPasses || (System.nanoTime() - t0) / 1e9 < seconds
    while (more) {
      if (p == warmUp) t0 = System.nanoTime()
      val warm = p < warmUp
      val tracing = traced && !warm && (p - warmUp) % 2 == 1
      val order = workload.order(new Random(a("seed").toLong * 1000003L + p).shuffle(workload.ops))
      if (tracing) tracer.get.start(workload.isInstanceOf[DailyEtl])
      workload.beforePass(p)
      val ops = order.zipWithIndex.map { case (name, i) =>
        val id = s"p$p-$i"
        val sc = spark.sparkContext
        sc.setLocalProperty(Tracer.OpKey, id)
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        tracer.foreach(_.opStarted(id))
        val (gc0, cpu0, jit0) = (gcSeconds, cpuSeconds, jitSeconds())
        val s0 = System.currentTimeMillis()
        val o0 = System.nanoTime()
        var built = o0
        val err = Workload.attempt(workload.run(name, () => {
          built = System.nanoTime()
          sc.setLocalProperty(Tracer.PhaseKey, "run")
        }))
        val o1 = System.nanoTime()
        val s1 = System.currentTimeMillis()
        val (gc1, cpu1, jit1) = (gcSeconds, cpuSeconds, jitSeconds())
        tracer.foreach(_.opEnded())
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
        err.foreach(e => System.err.println(s"perfbench: $name failed: $e"))
        // Untimed: a full collection after every op, so each op starts on a
        // clean heap and the old generation then holds what the op left live.
        System.gc()
        val fields = Seq("id" -> id, "name" -> name, "ok" -> err.isEmpty,
          "wall_s" -> (o1 - o0) / 1e9, "build_s" -> (built - o0) / 1e9,
          "run_s" -> (o1 - built) / 1e9, "cpu_s" -> (cpu1 - cpu0),
          "jit_s" -> (jit1 - jit0), "gc_s" -> (gc1 - gc0),
          "live_mb" -> oldGen.map(_.getUsage.getUsed).sum / 1048576.0,
          "start_ms" -> s0, "end_ms" -> s1)
        if (tracing) tracer.get.opSpan(("kind" -> "op") +: fields: _*)
        Json.obj(fields)
      }
      if (tracing) tracer.get.stop()
      val extra = workload.afterPass(p)
      if (!warm) passes += Json.obj(Seq("traced" -> tracing) ++ extra :+
        ("ops" -> Json.Raw(ops.mkString("[", ",", "]"))))
      p += 1
      progress(s"pass $p done")
    }
    val calAfter = Calibration.measure(1)
    val loadAfter = loadavg()
    val kernels = if (traced) kernelBench(spark, dataDir, a("seed").toLong) else Nil
    spark.stop()

    tracer.foreach(t => Files.write(Paths.get(a("spans")), t.spans.asJava))
    val record = Seq(
      "setup_s" -> setup, "cpus" -> cpus,
      "calibration_before" -> calBefore, "calibration_after" -> calAfter,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "check" -> Json.Raw(check.mkString("[", ",", "]")),
      "kernels" -> kernels.toMap,
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")))
    Files.writeString(Paths.get(a("out")), Json.obj(record))
  }

  /** Generated classes the session keeps. Spark's default, 100, is fewer
    * than one `corpus_ops` pass generates (about 110): each pass would evict
    * and recompile about half of them, and the JIT would compile the new
    * classes while the ops run. With room for all of them the timed passes
    * reuse the classes that the check and warm-up passes compiled. */
  val CodegenCacheEntries = 1000

  /** Session ready: local[N] with N shuffle partitions, native functions
    * registered, every parquet table resolved. */
  def startSession(cpus: Int, work: String, dataDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    VectorFunctions.register(spark)
    NativeTextExpressions.register(spark)
    Tables.names.foreach(n => Tables(spark, dataDir, n).schema)
    spark
  }

  /** CPU seconds of the JIT compiler threads, from /proc (Linux; 0
    * elsewhere). run.py keeps their number fixed, so none exits. */
  def jitSeconds(): Double = Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
    scala.util.Try {
      if (Files.readString(t.toPath.resolve("comm")).contains("CompilerThre")) {
        val stat = Files.readString(t.toPath.resolve("stat"))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) / 100.0 // utime + stime, in clock ticks
      } else 0.0
    }.getOrElse(0.0)
  }.sum

  def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("")

  /** Published so the JIT cannot drop the kernel loops. */
  @volatile var kernelSink = 0.0

  /** ns per element of `VecKernels.dot` and `cosineI8FF` on seeded vectors
    * of the `embeddings` dimension, and whether the SIMD kernel serves. */
  def kernelBench(spark: SparkSession, dataDir: String, seed: Long): Seq[(String, Any)] = {
    val dim = scala.util.Try(Tables(spark, dataDir, "embeddings")
      .select(size(col("embedding"))).first().getInt(0)).getOrElse(64)
    val rnd = new Random(seed)
    val n = 1024
    val f = Array.fill(n)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val q = f.map(v => VecKernels.quantizeI8(v, 0, dim))
    def nsPerElem(body: Int => Double): Double = {
      val samples = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        var (i, sink) = (0, 0.0)
        while (i < n * 16) { sink += body(i); i += 1 }
        kernelSink = sink
        (System.nanoTime() - t0).toDouble / (n.toDouble * 16 * dim)
      }
      samples.sorted.apply(samples.size / 2)
    }
    Seq(
      "dim" -> dim,
      "dot_f32_ns_per_elem" -> nsPerElem(i => VecKernels.dot(f(i % n), 0, f((i * 7 + 1) % n), 0, dim)),
      "dot_i8_ns_per_elem" -> nsPerElem(i => VecKernels.cosineI8FF(q(i % n), q((i * 7 + 1) % n))),
      "simd_active" -> (if (VecKernels.simdActive) 1 else 0))
  }
}

/** One workload's ops. `run` calls `built()` between building the op's
  * DataFrame and materializing it. */
trait Workload {
  def ops: Seq[String]
  /** Untimed pass over every op; one JSON object per check for run.py. */
  def check(): Seq[String]
  /** The order a pass runs its seeded shuffle of [[ops]] in. */
  def order(shuffled: Seq[String]): Seq[String] = shuffled
  def beforePass(pass: Int): Unit = ()
  def run(op: String, built: () => Unit): Unit
  /** Untimed, after the pass: extra per-pass fields. */
  def afterPass(pass: Int): Seq[(String, Any)] = Nil
}

object Workload {
  /** The ETL check loads a day's extracts side by side on this many threads. */
  val Threads = 4

  /** f over xs on [[Threads]] threads, results in the order of xs. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** None, or the error `body` threw. */
  def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
}

/** Registered queries by name; the check pass writes each result as parquet
  * for run.py to hash, every other pass writes to the `noop` sink. The check
  * pass runs the ops one at a time with their own partitioning, so it warms
  * up the same code the timed passes run. */
final class Queries(spark: SparkSession, dataDir: String, val ops: Seq[String], work: String)
    extends Workload {
  private val registry = SparkEntry.queries

  def check(): Seq[String] = ops.map { name =>
    val dir = s"$work/check/$name"
    val err = Workload.attempt(registry(name)(spark, dataDir).write.mode("overwrite").parquet(dir))
    Json.obj(Seq("op" -> name, "ok" -> err.isEmpty, "error" -> err, "dir" -> dir))
  }

  def run(op: String, built: () => Unit): Unit = {
    val df = registry(op)(spark, dataDir)
    built()
    df.write.format("noop").mode("overwrite").save()
  }
}

/** The reference's daily job: `Pipeline.runDaily(withHistory = true)` once
  * per extract, day 1 into an empty warehouse, then the day-2 reload. Every
  * pass gets its own database and history directory. */
final class DailyEtl(spark: SparkSession, extracts: String, work: String) extends Workload {
  private val days = Seq("day1", "day2")
  private val byOp: Map[String, String] = days.flatMap { d =>
    new File(s"$extracts/$d").listFiles().map(_.getPath).filter(_.endsWith(".csv"))
      .map(f => s"$d/${Ingest.tableNameFor(f)}" -> f)
  }.toMap
  val ops: Seq[String] = byOp.keys.toSeq.sorted
  private var label = ""
  private val rowsLoaded = new java.util.concurrent.atomic.AtomicLong

  private def warehouse = new File(s"$work/etl/warehouse_$label")
  private def history = new File(s"$work/etl/history_$label")

  /** Day 2 reloads what day 1 loaded, so only the order within a day is seeded. */
  override def order(shuffled: Seq[String]): Seq[String] =
    days.flatMap(d => shuffled.filter(_.startsWith(d + "/")))

  private def open(l: String): Unit = {
    label = l
    rowsLoaded.set(0L)
    spark.sql(s"CREATE DATABASE etl_$l LOCATION '${warehouse.getAbsolutePath}'")
    spark.sql(s"USE etl_$l")
  }

  /** Bytes written by the pass; drops its database and files. */
  private def close(): Long = {
    val written = du(warehouse) + du(history)
    spark.sql("USE default")
    spark.sql(s"DROP DATABASE etl_$label CASCADE")
    deleteTree(warehouse)
    deleteTree(history)
    written
  }

  /** Both days, each day's extracts side by side; errors by op. */
  private def load(): Seq[(String, Option[String])] =
    days.flatMap(d => Workload.parallel(ops.filter(_.startsWith(d + "/"))) { op =>
      op -> Workload.attempt(run(op, () => ()))
    })

  /** Loads every extract, then records each table's rows and schema. */
  def check(): Seq[String] = {
    open("check")
    val errs = load()
    val tables = spark.catalog.listTables(s"etl_$label").collect().map(_.name).sorted.toSeq
    val state = tables.map { t =>
      val df = spark.table(t)
      Map("table" -> t, "rows" -> df.count(),
        "schema" -> df.schema.fields.toSeq.map(f => List(f.name, f.dataType.simpleString)))
    }
    close()
    errs.map { case (op, e) => Json.obj(Seq("op" -> op, "ok" -> e.isEmpty, "error" -> e)) } :+
      Json.obj(Seq("tables" -> state))
  }

  override def beforePass(p: Int): Unit = open(s"pass$p")

  def run(op: String, built: () => Unit): Unit = {
    built()
    val report = Pipeline.runDaily(spark, Seq(byOp(op)), history.getPath, withHistory = true)
    rowsLoaded.addAndGet(report.tables.map(_.rows).sum)
  }

  override def afterPass(p: Int): Seq[(String, Any)] = {
    val input = byOp.values.map(f => new File(f).length()).sum
    val rows = rowsLoaded.get
    val written = close()
    Seq("write_amp" -> written.toDouble / input, "bytes_written" -> written, "rows_loaded" -> rows)
  }

  private def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
