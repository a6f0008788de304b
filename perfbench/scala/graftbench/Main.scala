package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ColumnProfile, Detector, DetectorConfig, Profiler,
  SemanticType, SyntheticPipeline}
import graft.ops.{Curation, Dedup, IvfIndex}
import graft.streaming.StreamingProfile
import graft.text.{EmbeddingModel, TextProfiler}

/** One benchmark run in one JVM: set up, then whole rounds of the
  * workload's calls into the program until `seconds` have passed. Writes
  * `result.json` (timings, per-call records, per-layer counters) and the
  * outputs the checks read into `out`. Arguments are key=value:
  * workload, seed, seconds, trace (0|1), in, out, work. */
object Main {

  final case class Call(name: String, seconds: Double, cpuS: Double, items: Long)
  final case class Round(wallS: Double, cpuS: Double, stealS: Double, traced: Boolean,
                         calls: Seq[Call])

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val w = new Run(opt("in"), opt("out"), opt("work"), opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1", opt)
    val spark = w.spark
    phase("session")
    try {
      workload match {
        case "synth_tables"  => w.measure(new SynthTables(w))
        case "llm_data"      => w.measure(new LlmData(w))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()
    phase("stopped")
  }

  /** Logs how far into the JVM's life a phase ended (to the run's jvm.log). */
  def phase(name: String): Unit = System.err.println(f"[graftbench] $name at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")

  def session(work: String, cores: Int): SparkSession = {
    // graft.Bench's session settings, with every scratch path inside the
    // run's work directory
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.StateStores.providerClass)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared run state: session, tracer, counters, timing helpers. */
final class Run(val in: String, val out: String, val work: String,
                val seed: Long, val seconds: Double, val trace: Boolean,
                params: Map[String, String]) {
  import Main._

  val spark: SparkSession = session(work, params.getOrElse("cores", "4").toInt)
  val tracer = new Tracer(spark.sparkContext)
  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)

  /** A workload size passed down from gen.SIZES. */
  def size(key: String): Int = params(key).toInt

  private val calls = mutable.ArrayBuffer.empty[Call]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  /** Time one public-function call; `items` is the input it covers. */
  def call[T](name: String, items: Long)(body: => T): T = {
    val t0 = System.nanoTime(); val c0 = cpuSeconds()
    val r = tracer.span(name)(body)
    calls += Call(name, (System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, items)
    r
  }

  /** CPU seconds this JVM has used, on all its threads. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the host took from this machine's CPUs (steal), summed. */
  def stealSeconds(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().split("\\s+")(8).toDouble / 100.0 finally f.close()
  }

  /** One round: wall, CPU and steal seconds around it. */
  def timedRound(traced: Boolean)(body: => Unit): Round = {
    calls.clear()
    val t0 = System.nanoTime(); val c0 = cpuSeconds(); val s0 = stealSeconds()
    body
    Round((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, stealSeconds() - s0, traced,
      calls.toList)
  }

  /** A traced-only call that is not part of the round's timing. */
  def breakdown[T](name: String)(body: => T): Unit =
    if (tracer.enabled) tracer.span(name)(body)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def measure(wl: Workload): Unit = {
    val setups = (0 until 7).map(i => timed(wl.setup(i))._2)
    phase("setup")
    val rounds = mutable.ArrayBuffer.empty[Round]
    // a traced run traces every round; the spans and counters stay in
    // memory until the rounds are over
    tracer.enabled = trace
    counters.recording = trace
    val gc0 = gcSeconds(); val jit0 = jitSeconds()
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (trace) wl.roundSpans += tracer.spans.size
      rounds += timedRound(trace)(tracer.span("round")(wl.round(r)))
      r += 1
    }
    phase("rounds")
    val gcS = gcSeconds() - gc0; val jitS = jitSeconds() - jit0
    (0 until r).foreach(wl.traceBreakdown)
    tracer.enabled = false
    counters.recording = false
    wl.finish()
    GraftBenchBridge.drainListenerBus(spark.sparkContext)
    val layers = if (trace) Layers.compute(this, wl, rounds.toSeq, gcS, jitS) else Map.empty
    val res = Map(
      "setup_s" -> setups,
      "peak_rss_mb" -> peakRssMb(),
      "rounds" -> rounds.map(rd => Map("wall_s" -> rd.wallS, "cpu_s" -> rd.cpuS,
        "steal_s" -> rd.stealS, "traced" -> rd.traced,
        "calls" -> rd.calls.map(c => Map("name" -> c.name, "s" -> c.seconds, "cpu_s" -> c.cpuS,
          "items" -> c.items)))),
      "extra" -> extra,
      "layers" -> layers)
    Files.write(Paths.get(out, "result.json"), Json(res).getBytes("UTF-8"))
    phase("written")
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** High-water resident set of this JVM, from the kernel's own account. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) -1.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def writeJson(name: String, v: Any): Unit =
    Files.write(Paths.get(out, name), Json(v).getBytes("UTF-8"))
}

/** A workload: inputs prepared by `setup` (timed five times), then
  * identical rounds of calls. */
abstract class Workload(val run: Run) {
  val roundSpans = mutable.ArrayBuffer.empty[Int]
  def setup(i: Int): Unit
  def round(r: Int): Unit
  /** Traced-only calls that split a composite call into its parts. */
  def traceBreakdown(r: Int): Unit = ()
  def finish(): Unit
  /** Workload-specific per-layer figures, per traced round. */
  def layerFigures(tracedRounds: Set[Int]): Map[String, Double] = Map.empty
  def spark: SparkSession = run.spark
  def parquet(name: String): DataFrame = spark.read.parquet(s"${run.in}/$name")
  /** Load an input and materialize it, then release it: the set-up a
    * caller pays to have the table readable. */
  def load(name: String): Unit = {
    val df = parquet(name).cache()
    df.count()
    df.unpersist(blocking = true)
  }
}

// ------------------------------------------------------------ synth_tables

final class SynthTables(run: Run) extends Workload(run) {
  private val tables = Seq("orders", "events")
  // the events pipeline runs at a fixed seed, like its input table
  private val EventsSeed = 20240101L
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]

  def setup(i: Int): Unit = tables.foreach(t => load(s"$t.parquet"))

  private def cfg(table: String, rows: Long) = SyntheticPipeline.Config(
    detector = DetectorConfig(strictFormats = true),
    sampleCap = 0, nSamples = rows,
    seed = if (table == "events") EventsSeed else run.seed)

  def round(r: Int): Unit = tables.foreach { t =>
    val df = parquet(s"$t.parquet")
    val rows = df.count()
    val c = cfg(t, rows)
    val profiles = run.call("engine.SyntheticPipeline.profileTable", rows) {
      SyntheticPipeline.profileTable(df, c)
    }
    val synth = run.call("engine.SyntheticPipeline.generate", rows) {
      val g = SyntheticPipeline.generate(spark, profiles, c, vocabSource = Some(df)).cache()
      g.count()
      g
    }
    val validation = run.call("engine.SyntheticPipeline.validate", rows) {
      SyntheticPipeline.validate(synth, profiles, c)
    }
    val csv = s"${run.out}/csv/r$r/$t"
    run.call("engine.SyntheticPipeline.writeCsv", rows) {
      SyntheticPipeline.writeCsv(synth, csv)
    }
    synth.unpersist(blocking = true)
    records += Map("round" -> r, "table" -> t, "rows" -> rows, "n_samples" -> c.nSamples,
      "csv" -> csv, "profiles" -> profiles.map { case (n, p) => n -> profileJson(p) },
      "validation" -> validation)
  }

  override def traceBreakdown(r: Int): Unit = if (run.tracer.enabled) tables.foreach { t =>
    // profileTable's parts, called directly on the same cached frame
    val df = parquet(s"$t.parquet").na.drop("any").cache()
    df.count()
    val c = cfg(t, 0)
    val detected = Detector.detect(df, c.detector)
    run.breakdown("engine.Detector.detect")(Detector.detect(df, c.detector))
    run.breakdown("engine.Profiler.profileScalars")(Profiler.profileScalars(df, detected))
    val model = EmbeddingModel(c.embedDim, c.seed)
    detected.foreach { case (name, (st, _)) =>
      st match {
        case SemanticType.Categorical =>
          run.breakdown("engine.Profiler.profileCategorical")(Profiler.profileCategorical(df, name))
        case SemanticType.Text | SemanticType.Email | SemanticType.Phone =>
          run.breakdown("text.TextProfiler.profile")(
            TextProfiler.profile(df, name, model, c.maxTokens, c.rawSampleCap))
        case _ =>
      }
    }
    df.unpersist(blocking = true)
  }

  private def profileJson(p: ColumnProfile): Map[String, Any] = {
    def num(s: graft.engine.NumericStats) = Map("mean" -> s.mean, "std" -> s.std,
      "median" -> s.median, "min" -> s.min, "max" -> s.max, "skewness" -> s.skewness,
      "kurtosis" -> s.kurtosis, "q1" -> s.q1, "q3" -> s.q3, "count" -> s.count)
    Map("type" -> p.semanticType.name,
      "numeric" -> p.numeric.map(num),
      "categorical" -> p.categorical.map(c => Map("categories" -> c.categories,
        "probabilities" -> c.probabilities, "count" -> c.count)),
      "datetime" -> p.datetime.map(d => Map("epoch" -> num(d.epoch), "min" -> d.minDate,
        "max" -> d.maxDate, "format" -> d.format)),
      "text" -> p.text.map(t => Map("overall_mean" -> t.overallMean,
        "overall_std" -> t.overallStd, "count" -> t.count)))
  }

  def finish(): Unit = run.writeJson("synth.json", records.toSeq)
}

// ------------------------------------------------------------ curation

/** Batch curation and near-dup dedup over the generated corpus, then the
  * same documents fed to the streaming twin of the curation pipeline in
  * fixed-size feeds (closed loop: the next feed goes in only after
  * processAllAvailable returns; the sink is a foreachBatch that collects
  * the survivors' narrow columns). */
final class CurationPhase(run: Run) extends Workload(run) {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.StreamingQueryProgress

  /** Stream ids of round r are the corpus ids plus r * IdStride. */
  private val IdStride = 100000000L
  private val feedSize = run.size("feed")
  private lazy val corpus: Array[(Long, String)] = parquet("corpus.parquet")
    .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private val curated = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val pairs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val kept = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val survivors = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[(Int, StreamingQueryProgress)]
  private val candPairs = mutable.Map.empty[Int, Long]
  private val verified = mutable.Map.empty[Int, Long]

  def setup(i: Int): Unit = {
    load("corpus.parquet")
    corpus
  }

  def round(r: Int): Unit = {
    val df = parquet("corpus.parquet")
    val n = corpus.length.toLong
    val c = run.call("ops.Curation.curate", n) {
      Curation.curate(df, "id", "text")
        .select("id", "text_clean", "lang", "quality", "n_tokens").collect()
    }
    val p = run.call("ops.Dedup.lshJaccardDedup", n) {
      Dedup.lshJaccardDedup(df, "id", "text").collect()
    }
    val k = run.call("ops.Dedup.dedupCorpus", n) {
      Dedup.dedupCorpus(df, "id", "text").select("id").collect()
    }
    curated ++= c.map(x => Map("round" -> r, "id" -> x.getLong(0), "text_clean" -> x.getString(1),
      "lang" -> x.getString(2), "quality" -> x.getDouble(3), "n_tokens" -> x.getLong(4)))
    pairs ++= p.map(x => Map("round" -> r, "id_a" -> x.getLong(0), "id_b" -> x.getLong(1),
      "jaccard" -> x.getDouble(2)))
    kept ++= k.map(x => Map("round" -> r, "id" -> x.getLong(0)))
    verified(r) = p.length.toLong
    stream(r)
  }

  /** A fresh query per round: started, fed the corpus feed by feed, stopped. */
  private def stream(r: Int): Unit = {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)](spark, spark.sparkContext.defaultParallelism)
    val buf = survivors
    val query = run.call("streaming.StreamingProfile.streamingCurate", 0) {
      val q = StreamingProfile.streamingCurate(mem.toDF().toDF("ts", "id", "text"), "ts", "id", "text")
        .writeStream
        .option("checkpointLocation", s"${run.work}/ckpt$r")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select("id", "lang", "quality", "n_tokens").collect()
          buf.synchronized {
            buf ++= rows.map(x => Map("id" -> x.getLong(0), "lang" -> x.getString(1),
              "quality" -> x.getDouble(2), "n_tokens" -> x.getLong(3)))
          }
          ()
        }
        .start()
      q.processAllAvailable()
      q
    }
    try {
      (0 until corpus.length / feedSize).foreach { f =>
        val rows = corpus.slice(f * feedSize, (f + 1) * feedSize).zipWithIndex.map {
          case ((id, text), j) => (new Timestamp(t0 + f * 60000L + j * 10L), id + r * IdStride, text)
        }
        run.call("streaming.feed", rows.length.toLong) {
          mem.addData(rows.toSeq)
          query.processAllAvailable()
        }
      }
      query.recentProgress.foreach(p => progress += ((r, p)))
    } finally query.stop()
  }

  override def traceBreakdown(r: Int): Unit = if (run.tracer.enabled) {
    val df = parquet("corpus.parquet")
    var n = 0L
    run.breakdown("ops.Dedup.minhashCandidates") {
      n = Dedup.minhashCandidates(df, "id", "text").count()
    }
    candPairs(r) = n
  }

  override def layerFigures(tracedRounds: Set[Int]): Map[String, Double] = {
    val per = math.max(1, tracedRounds.size).toDouble
    val cand = candPairs.values.sum / per
    val ver = tracedRounds.toSeq.map(verified).sum / per
    val ps = progress.filter { case (r, _) => tracedRounds.contains(r) }.map(_._2).toSeq
    val data = ps.filter(_.numInputRows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    def phase(k: String) = med(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val feeds = run.tracer.spans.count(_.name == "streaming.feed")
    // micro-batches that ran (idle progress reports carry no addBatch)
    val feedTriggers = ps.count(_.durationMs.containsKey("addBatch"))
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    Map(
      "ops.Dedup.candidate_pairs" -> cand,
      "ops.Dedup.verified_pairs" -> ver,
      "ops.Dedup.useful_ratio" -> (if (cand > 0) ver / cand else 0.0),
      "streaming.triggerExecution_ms" -> phase("triggerExecution"),
      "streaming.addBatch_ms" -> phase("addBatch"),
      "streaming.queryPlanning_ms" -> phase("queryPlanning"),
      "streaming.walCommit_ms" -> phase("walCommit"),
      "streaming.commitOffsets_ms" -> phase("commitOffsets"),
      "streaming.latestOffset_ms" -> phase("latestOffset"),
      "streaming.triggers_per_feed" -> (if (feeds == 0) 0.0 else feedTriggers.toDouble / feeds),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_memory_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }

  def finish(): Unit = {
    run.extra("processed_rows_per_s") =
      progress.map(_._2).filter(_.numInputRows > 0).map(_.processedRowsPerSecond).toSeq
    run.writeJson("curated.json", curated)
    run.writeJson("pairs.json", pairs)
    run.writeJson("kept.json", kept)
    run.writeJson("survivors.json", survivors)
  }
}

// ------------------------------------------------------------ vector index

/** The IvfIndex lifecycle on a fresh index each round: build, append the
  * shards, apply the CDC batch, search, drift report, compact, rebuild,
  * search again. */
final class VectorPhase(run: Run) extends Workload(run) {
  private val nCells = run.size("cells")
  private val k = 10
  private val nprobe = run.size("nprobe")
  private val path = s"${run.work}/index"
  private val results = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val drift = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val written = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
  private val shards = new File(run.in).list().filter(_.startsWith("vec_shard")).sorted

  def setup(i: Int): Unit = load("vec_base.parquet")

  /** Files under the index modified at or after `sinceMs`: what the
    * last call wrote. */
  private def writtenSince(sinceMs: Long): (Long, Long) = {
    val fs = Files.walk(Paths.get(path)).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.lastModified() >= sinceMs).toSeq
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  private def ivf[T](fn: String, items: Long)(body: => T): T = {
    val since = (System.currentTimeMillis() / 1000) * 1000
    val r = run.call(s"ops.IvfIndex.$fn", items)(body)
    if (run.tracer.enabled) {
      val (f, b) = writtenSince(since)
      val (f0, b0) = written(fn)
      written(fn) = (f0 + f, b0 + b)
    }
    r
  }

  private def search(r: Int, phase: Int): Unit = {
    val q = parquet("vec_queries.parquet")
    val rows = ivf("search", q.count()) {
      IvfIndex.search(spark, path, q, "id", "vec", k, nprobe).collect()
    }
    results ++= rows.map(x => Map("round" -> r, "phase" -> phase,
      "query_id" -> x.getAs[Long]("query_id"), "rank" -> x.getAs[Int]("rank"),
      "neighbor_id" -> x.getAs[Long]("neighbor_id"), "sim" -> x.getAs[Double]("sim")))
  }

  def round(r: Int): Unit = {
    val base = parquet("vec_base.parquet")
    ivf("build", base.count())(IvfIndex.build(base, "id", "vec", path, nCells))
    shards.foreach { s =>
      val sh = parquet(s)
      ivf("append", sh.count())(IvfIndex.append(spark, path, sh, "id", "vec"))
    }
    val cdc = parquet("vec_cdc.parquet")
    ivf("applyChanges", cdc.count()) {
      IvfIndex.applyChanges(spark, path, cdc, "id", "vec", "seq", "op")
    }
    search(r, 0)
    val d = ivf("driftReport", 0)(IvfIndex.driftReport(spark, path).collect())
    drift ++= d.map(x => Map("round" -> r, "n_base" -> x.getAs[Long]("n_base"),
      "n_cur" -> x.getAs[Long]("n_cur")))
    ivf("compact", 0)(IvfIndex.compact(spark, path))
    ivf("rebuild", 0)(IvfIndex.rebuild(spark, path, nCells))
    search(r, 1)
    // index footprint after maintenance: data files only
    val files = Files.walk(Paths.get(path)).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).toSeq
    run.extra("index_bytes") = files.map(_.length()).sum
  }

  override def layerFigures(tracedRounds: Set[Int]): Map[String, Double] = {
    val per = math.max(1, tracedRounds.size).toDouble
    Map("ops.IvfIndex.files_written" -> written.values.map(_._1).sum / per,
      "ops.IvfIndex.bytes_written" -> written.values.map(_._2).sum / per)
  }

  def finish(): Unit = {
    run.writeJson("search.json", results)
    run.writeJson("drift.json", drift)
  }
}

// ------------------------------------------------------------ llm_data

/** The LLM-data operators as one workload: the curation phase, then the
  * vector-index phase, each with its own set-up. */
final class LlmData(run: Run) extends Workload(run) {
  private val phases = Seq(new CurationPhase(run), new VectorPhase(run))
  def setup(i: Int): Unit = phases.foreach(_.setup(i))
  def round(r: Int): Unit = phases.foreach(_.round(r))
  override def traceBreakdown(r: Int): Unit = phases.foreach(_.traceBreakdown(r))
  def finish(): Unit = phases.foreach(_.finish())
  override def layerFigures(tracedRounds: Set[Int]): Map[String, Double] =
    phases.map(_.layerFigures(tracedRounds)).reduce(_ ++ _)
}
