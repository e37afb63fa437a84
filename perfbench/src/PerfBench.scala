package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, SparkEntry}
import graft.operators.{MapReduceJob, MapReducePipeline}
import graft.sources.{LineFileV2, WordCountOutput}

/** One benchmark run's JVM: sets up a session, warms up, prints
  * `READY`, runs the workload's ops closed-loop (one op at a time) and
  * writes raw timings and traces as JSON. `run.py` owns the
  * inputs, the correctness checks and every metric definition; this
  * side only measures.
  *
  * {{{
  * PerfBench catalog <out.json>
  * PerfBench run key=value ...   (keys: see `BenchRun`)
  * }}}
  */
object PerfBench {

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => catalog(out)
    case "run" :: kvs =>
      val opts = kvs.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"expected key=value, got '$kv'")
        kv.take(i) -> kv.drop(i + 1)
      }.toMap
      new BenchRun(opts).run()
    case _ =>
      System.err.println("usage: PerfBench catalog <out.json> | PerfBench run key=value ...")
      sys.exit(2)
  }

  /** Registry names and oracle SQL, for sampling and checking. */
  private def catalog(out: String): Unit = {
    val doc = Map(
      "queries" -> SparkEntry.queries.keys.toSeq.sorted.asJava,
      "oracle" -> SparkEntry.oracleSql.asJava).asJava
    Files.writeString(Paths.get(out), json.writeValueAsString(doc))
  }

  private[perfbench] def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }

  private[perfbench] def write(path: String, doc: Map[String, Any]): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(toJava(doc)))
}

/** Keys: `workload` (wc | registry), `cores`, `trace` (0 | 1; 1 also
  * runs the layer probes after the ops), `work_dir` (scratch for
  * outputs), `result` (JSON out), `line_file`, `chunk_size`, `locality`, `reducers` (the line corpus
  * the wc ops and the layer probes read), and per workload:
  * wc: `jobs`, `warm_file`, `warm_jobs`; registry: `data_dir`, `rows`, `warm_rows`
  * (comma-separated registry names).
  */
final class BenchRun(opts: Map[String, String]) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = opts("cores").toInt
  private val traced = opts("trace") == "1"
  private val workDir = opts("work_dir")
  private val lineFile = opts("line_file")
  private val chunkSize = opts("chunk_size")
  private val locality = opts("locality")
  private val reducers = opts("reducers").toInt

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionMs = System.currentTimeMillis()
  GraftExtensions.register(spark)
  private val registerMs = System.currentTimeMillis()

  private val tracer: Option[Tracer] =
    if (traced) Some(new Tracer(spark.sparkContext)) else None

  private def list(key: String): Seq[String] =
    opts.getOrElse(key, "").split(",").toSeq.filter(_.nonEmpty)

  private def lines(path: String): DataFrame =
    spark.read.format("graftlines")
      .option("chunkSize", chunkSize)
      .option("localityFile", locality)
      .option("numWorkers", cores.toLong)
      .load(path)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` as op `name` under its own job group and return the
    * op record: wall seconds, outcome, the build/plan/exec split the
    * body marks through [[Phases]], and on traced runs the op's jobs
    * and stages.
    */
  private def op(name: String)(body: Phases => Map[String, Any]): Map[String, Any] = {
    val phases = new Phases
    tracer.foreach(_.begin(name))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome = try Right(body(phases)) catch { case NonFatal(e) => Left(e) }
    val wall = seconds(t0)
    val endMs = System.currentTimeMillis()
    val trace = tracer.map(_.end(name, startMs, endMs))
    Map("name" -> name, "wall_s" -> wall, "ok" -> outcome.isRight,
      "error" -> outcome.left.toOption.map(describe).orNull) ++
      phases.times.map { case (k, v) => s"${k}_s" -> v } ++
      outcome.toOption.getOrElse(Map.empty) ++
      trace.map(t => Map("trace" -> t)).getOrElse(Map.empty)
  }

  private def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  // ---- wc: graftlines source → MapReducePipeline → WordCountOutput ----

  private def wcJob(path: String, out: String, p: Phases): Map[String, Any] = {
    var counts: DataFrame = null
    p("build") { counts = MapReducePipeline.run(lines(path), MapReduceJob()) }
    if (traced) p("plan")(counts.queryExecution.executedPlan)
    p("exec")(WordCountOutput.write(counts, reducers, out))
    Map("out" -> out)
  }

  // ---- registry: one SparkEntry row, built then fully materialized ----

  private def registryRow(name: String, dataDir: String, check: Boolean): Map[String, Any] = {
    var df: DataFrame = null
    val rec = op(name) { p =>
      p("build") { df = SparkEntry.queries(name)(spark, dataDir) }
      if (traced) p("plan")(df.queryExecution.executedPlan)
      p("exec")(df.write.format("noop").mode("overwrite").save())
      Map.empty
    }
    if (!check || df == null) rec
    else {
      // untimed correctness dump of the same frame, the shape Verify writes
      tracer.foreach(_.begin(s"check:$name"))
      val err = try {
        df.coalesce(1).write.mode("overwrite").parquet(s"$workDir/rows/$name"); null
      } catch { case NonFatal(e) => describe(e) }
      tracer.foreach(_.discard())
      rec + ("check_error" -> err)
    }
  }

  def run(): Unit = {
    val registry = opts("workload") == "registry"
    val dataDir = opts.getOrElse("data_dir", "")
    // untimed warm-up: the same code path on a small input
    if (registry) list("warm_rows").foreach(registryRow(_, dataDir, check = false))
    else (0 until opts("warm_jobs").toInt).foreach { k =>
      op(s"warmup$k")(wcJob(opts("warm_file"), s"$workDir/out/warmup$k", _))
    }
    tracer.foreach(_.discard())
    val readyMs = System.currentTimeMillis()
    println("READY")
    System.out.flush()

    val ops: Seq[Map[String, Any]] =
      if (registry) list("rows").map(registryRow(_, dataDir, check = true))
      else (0 until opts("jobs").toInt).map { k =>
        op(s"job$k")(wcJob(lineFile, s"$workDir/out/job$k", _))
      }

    val probes = if (traced) layerProbes() else Map.empty[String, Any]

    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    PerfBench.write(opts("result"), Map(
      "ops" -> ops,
      "probes" -> probes,
      "peak_rss_mb" -> rssMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_split_s" -> Map(
        "session" -> (sessionMs - jvmStartMs) / 1e3,
        "register" -> (registerMs - sessionMs) / 1e3,
        "warmup" -> (readyMs - registerMs) / 1e3),
      "listener_s" -> tracer.map(_.selfSeconds).getOrElse(0.0)))
    spark.stop()
    println("DONE")
    System.out.flush()
  }

  /** Standalone calls into each layer's public entry point on the
    * run's line file, timed from outside. */
  private def layerProbes(): Map[String, Any] = {
    val hosts = LineFileV2.hostsFromConfig(locality, cores)
    val planT = System.nanoTime()
    val chunks = LineFileV2.planChunks(lineFile, chunkSize.toInt, None, hosts)
    val planS = seconds(planT)

    val scan = op("probe.scan") { p =>
      p("exec")(lines(lineFile).write.format("noop").mode("overwrite").save()); Map.empty }
    var tokens = -1L
    op("probe.tokens") { p =>
      p("exec") { tokens = MapReducePipeline.intermediatePairCount(lines(lineFile), MapReduceJob()) }
      Map.empty }
    val counts = MapReducePipeline.run(lines(lineFile), MapReduceJob()).cache()
    val mat = op("probe.counts") { p => p("exec")(counts.count()); Map.empty }
    val sink = op("probe.sink") { p =>
      val out = s"$workDir/out/probe_sink"
      p("exec")(WordCountOutput.write(counts, reducers, out)); Map("out" -> out) }
    counts.unpersist(blocking = true)
    Map("plan_chunks_s" -> planS, "chunks" -> chunks.size, "tokens" -> tokens,
      "scan" -> scan, "counts" -> mat, "sink" -> sink)
  }
}

/** Named phase timer for one op (build / plan / exec). */
final class Phases {
  val times = mutable.LinkedHashMap.empty[String, Double]
  def apply(label: String)(f: => Unit): Unit = {
    val t = System.nanoTime()
    f
    times(label) = (System.nanoTime() - t) / 1e9
  }
}
