package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Memo
import graft.etl.{CorpusPipeline, Packing, SensorEtl}
import graft.ml.Pipelines
import graft.operators.{Relational, Similarity, TemporalJoins, TimeWindows}
import graft.streaming.EventStreams
import graft.timeseries.{ArForecast, HoltForecast}

/** The benchmark's JVM side: runs one workload through the engine's
  * public functions in one Spark session, writes every step's output in
  * full as parquet, and reports timings as JSON. `run.py` starts it,
  * checks the written outputs against the DuckDB oracle and prints the
  * metrics.
  *
  * Usage:
  *   Harness run --workload W --data DIR --out DIR --result FILE
  *               --seconds N --seed S --trace 0|1
  *   Harness oracles FILE      (dump the workloads' gates and oracle SQL)
  */
object Harness {

  /** One public call: its metric prefix, the registry gate whose oracle
    * checks its output, the tables it reads, and the call itself. */
  case class Step(layer: String, gate: String, tables: Seq[String],
      fn: (SparkSession, String) => DataFrame)

  private val ev = Seq("events")

  val sensorSteps: Seq[Step] = Seq(
    Step("etl.wide", "q_etl_wide", ev, SensorEtl.wide),
    Step("operators.lead_window", "q_lead_window", ev, TimeWindows.leadWindow),
    Step("ml.regression", "q_ml_regression", ev, Pipelines.regressionVerdict),
    Step("ml.classification", "q_ml_classification", ev, Pipelines.classificationVerdict),
    Step("ml.cross_val", "q_cross_val", ev, Pipelines.crossValidateVerdict),
    Step("timeseries.holt", "q_holt_forecast", ev, (s, d) => HoltForecast.forecast(s, d)),
    Step("timeseries.ar", "q_ar_forecast", ev, (s, d) => ArForecast.forecast(s, d)))

  val corpusSteps: Seq[Step] = Seq(
    Step("etl.corpus_clean", "q_corpus_clean", Seq("documents"), CorpusPipeline.corpusClean),
    Step("etl.mix", "q_corpus_mix", Seq("documents"), CorpusPipeline.mix),
    Step("etl.pack", "q_corpus_pack", Seq("documents"), CorpusPipeline.corpusPack),
    Step("etl.pack_greedy", "q_pack_greedy", Seq("documents"), Packing.greedy))

  val requests: Seq[Step] = Seq(
    Step("operators.groupby_max", "q_groupby_max", ev, Relational.groupbyMax),
    Step("operators.pivot_fill", "q_pivot_fill", ev, Relational.pivotFill),
    Step("operators.join_broadcast", "q_join_broadcast",
      Seq("customer", "nation", "region"), Relational.joinBroadcast),
    Step("operators.orderby_topk", "q_orderby_topk", ev, Relational.orderbyTopk),
    Step("operators.quantiles", "q_quantile", ev, TimeWindows.quantiles),
    Step("operators.asof_join", "q_asof_join", ev, TemporalJoins.asofJoin),
    Step("operators.anomaly_zscore", "q_anomaly_zscore", ev, (s, d) => TemporalJoins.anomalyZscore(s, d)),
    Step("operators.cosine_topk", "q_cosine_topk", Seq("embeddings"), (s, d) => Similarity.cosineTopK(s, d)),
    Step("operators.ann_ivf", "q_ann_ivf", Seq("embeddings"), (s, d) => Similarity.annIvf(s, d)),
    Step("streaming.stream_dedup_agg", "q_stream_dedup_agg", ev, EventStreams.streamDedupAgg))

  val workloads: Map[String, Seq[Step]] = Map(
    "sensor_batch" -> sensorSteps, "corpus_batch" -> corpusSteps, "adhoc_mix" -> requests)

  /** Each workload's gates, and the oracle SQL of every one of them plus
    * the dense Holt input the benchmark's Holt oracle folds, as JSON. */
  def oracleJson: String = {
    val gates = (workloads.values.flatten.map(_.gate).toSeq :+ "q_holt_prep").distinct.sorted
    val sql = gates.map { g =>
      val q = graft.SparkEntry.oracleSql.getOrElse(g,
        throw new IllegalStateException(s"no oracle for $g"))
      s"${Json.str(g)}: ${Json.str(q)}"
    }.mkString("{", ",\n", "}")
    val byWorkload = workloads.toSeq.sortBy(_._1).map { case (w, steps) =>
      w -> steps.map(_.gate).distinct.map(Json.str).mkString("[", ", ", "]")
    }
    Json.obj(Seq("workloads" -> Json.obj(byWorkload), "sql" -> sql))
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracles") =>
      Files.writeString(Paths.get(args(1)), oracleJson)
    case Some("run") =>
      run(opts(args.tail))
    case _ =>
      System.err.println("usage: Harness run|oracles ...")
      sys.exit(2)
  }

  private def opts(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** The session every run uses: all cores, UTC, UI off, and the
    * maxPartitionBytes graft.Bench runs with. The heap is set on the
    * JVM command line by run.py. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Bytes read through the local Hadoop file system by this JVM: the
    * parquet scans, without cached-block or shuffle reads. */
  private def fileBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** One timed call: span, outcome and the deltas traced around it. */
  case class Call(step: Step, index: Int, startMs: Long, seconds: Double,
      gcS: Double, memoS: Double, fileReadBytes: Long, out: String,
      error: Option[String])

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val steps = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val data = o("data")
    val out = o("out")
    val seconds = o("seconds").toDouble
    val seed = o("seed").toLong
    val trace = o("trace") == "1"

    val spark = session()
    val recorder = if (trace) Some(Recorder.install(spark)) else None
    val calls = mutable.ArrayBuffer.empty[Call]
    var n = 0

    // A streaming call keeps its checkpoint in a scratch directory keyed
    // on its input directory, and a second call on the same directory
    // only resumes the finished query. So each streaming call reads its
    // own directory of hard links to the generated tables, and every call
    // runs its micro-batches, state store and sink writes anew. The links
    // are made before the call's span starts.
    def input(step: Step): String =
      if (!step.layer.startsWith("streaming.")) data
      else {
        val dir = Files.createDirectories(Paths.get(s"$out/in/${"%04d".format(n)}"))
        step.tables.foreach(t =>
          Files.createLink(dir.resolve(s"$t.parquet"), Paths.get(data, s"$t.parquet")))
        dir.toString
      }

    def call(step: Step, dir: String): Call = {
      val d = input(step)
      val sc = spark.sparkContext
      val group = s"${step.layer}#$n"
      sc.setJobGroup(group, step.gate, interruptOnCancel = false)
      val gc0 = gcSeconds
      val memo0 = Memo.buildSeconds
      val read0 = fileBytesRead
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val path = s"$dir/${"%04d".format(n)}_${step.gate}"
      val err = try {
        step.fn(spark, d).write.mode("overwrite").parquet(path)
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
      val c = Call(step, n, t0, (System.nanoTime() - n0) / 1e9,
        gcSeconds - gc0, Memo.buildSeconds - memo0, fileBytesRead - read0, path, err)
      sc.clearJobGroup()
      Memo.sweep(spark)
      n += 1
      c
    }

    // Set-up ends when the first timed call can begin. adhoc_mix sends
    // every request type twice first, untimed: the first call pays the
    // type's first use, the second the JIT transient that follows it.
    // Their outputs are checked like the timed ones.
    val rnd = new scala.util.Random(seed)
    val warm = mutable.ArrayBuffer.empty[Call]
    if (workload == "adhoc_mix")
      (steps ++ rnd.shuffle(steps)).foreach(s => warm += call(s, s"$out/warm"))
    recorder.foreach(_.reset())
    val readyMs = System.currentTimeMillis()

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (workload == "adhoc_mix") {
      // Closed loop, one client. The seed draws the order of each round,
      // a permutation of all request types, so every seed sends the same
      // mix; rounds repeat until `seconds` have passed.
      while (calls.isEmpty || elapsed < seconds)
        rnd.shuffle(steps).foreach(s => calls += call(s, s"$out/timed"))
    } else {
      // One cold pass of the flow, as one job.
      steps.foreach(s => calls += call(s, s"$out/flow"))
    }
    val timedS = elapsed
    recorder.foreach(_.flush())

    val rt = ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")))
    def callJson(c: Call): String = Json.obj(Seq(
      "layer" -> Json.str(c.step.layer), "gate" -> Json.str(c.step.gate),
      "tables" -> c.step.tables.map(Json.str).mkString("[", ",", "]"),
      "index" -> c.index.toString, "start_ms" -> c.startMs.toString,
      "s" -> c.seconds.toString, "gc_s" -> c.gcS.toString,
      "memo_s" -> c.memoS.toString, "file_read_bytes" -> c.fileReadBytes.toString,
      "out" -> Json.str(c.out),
      "error" -> c.error.map(Json.str).getOrElse("null")) ++
      recorder.map(r => "engine" -> r.groupJson(s"${c.step.layer}#${c.index}")).toSeq)
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "jvm_start_ms" -> rt.getStartTime.toString,
      "ready_ms" -> readyMs.toString,
      "timed_s" -> timedS.toString,
      "round_size" -> steps.size.toString,
      "peak_rss_mb" -> peakRssMb.toString,
      "env" -> Json.obj(env),
      "warm" -> warm.map(callJson).mkString("[", ",\n", "]"),
      "calls" -> calls.map(callJson).mkString("[", ",\n", "]")) ++
      recorder.map(r => "streaming" -> r.streamingJson).toSeq)
    Files.writeString(Paths.get(o("result")), result)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)).getOrElse(0.0)
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
