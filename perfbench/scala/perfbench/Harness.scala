package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.pipeline.{Enrich, Exporter, Pipeline, TranscriptJob}
import graft.sinks.GraftTable
import graft.sources.Transcripts
import graft.streaming.StreamJobs

/** Command-line options; every key is `--name value`. */
final case class Opts(args: Map[String, String]) {
  def str(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def workload: String = str("workload")
  def work: String = str("work")
  def cores: Int = int("cores")
  def trace: Boolean = args.get("trace").contains("1")
}

/** The JVM side of the benchmark. It only calls the engine's public entry
  * points, timestamps the hand-offs between layers, and writes one raw
  * result file (samples, read-back values, layer counters, spans); the
  * runner turns that into metrics and checks it. One workload per process.
  */
object Harness {
  val Setups = 5
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val marks = mutable.LinkedHashMap.empty[String, Double]

  /** Note how far into the JVM's life a phase ended (seconds). */
  def mark(label: String): Unit = marks(label) = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def main(argv: Array[String]): Unit = {
    val o = Opts(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spans = new Spans
    val body: (Opts, mutable.Map[String, Any], Spans) => Unit = o.workload match {
      case "flagship_batch" => Flagship.run
      case "query_suite" => Suite.run
      case w => sys.error(s"unknown workload $w")
    }
    try body(o, out, spans)
    finally SparkSession.getActiveSession.foreach(_.stop())
    mark("end")
    out("marks") = marks
    if (o.trace) out("spans") = spans.all.map(s => Map(
      "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "trace" -> s.trace))
    Files.write(Paths.get(o.str("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
  }

  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkEntry.configure(s)
  }

  /** Set up `Setups` times, each from a fresh session; returns the last
    * session and every set-up duration in seconds.
    */
  def setUp(o: Opts)(prepare: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to Setups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(o, o.cores)
      prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    mark("setup")
    (spark, times)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `f`, recording its wall time in ms or the failure message. */
  def attempt(f: => Unit): Map[String, Any] = {
    val t0 = System.nanoTime()
    val result =
      try { f; Map("ok" -> true) }
      catch { case e: Exception => Map("ok" -> false,
        "error" -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}") }
    result + ("ms" -> (System.nanoTime() - t0) / 1e6)
  }

  /** Write the first `turns` turns of a transcript table (in conversation
    * order, so every seed gives the same number of turns) as `files`
    * parquet files, a conversation never split across files.
    */
  def writeTurns(df: DataFrame, turns: Long, files: Int, path: String): Unit =
    df.orderBy("conv_id", "turn_idx").limit(turns.toInt)
      .repartition(files, col("conv_id")).write.mode("overwrite").parquet(path)

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** xxhash64 of a row over every column in name order; maps (which
    * xxhash64 rejects) enter as their sorted entry arrays.
    */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }: _*)

  /** Order-insensitive content digest of a table: row count, and a sum and
    * an xor of the row hashes.
    */
  def contentHash(df: DataFrame): String = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h"))).head()
    f"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}%x:${if (r.isNullAt(2)) 0L else r.getLong(2)}%x"
  }

  /** Hash-aggregate every column so Catalyst cannot prune computed work
    * (the shape of ScaleRun.forceEval, widened to all columns).
    */
  def force(df: DataFrame): Unit = df.select(rowHash(df).as("h")).agg(sum(col("h"))).collect()

  /** Prefix ablation over the transcript pipeline: times each cumulative
    * prefix (scan; + adapter; + route/parse; + enrich; + exporter shape) and
    * the exact per-route and parse-outcome counts of the routed frame.
    */
  def ablation(spark: SparkSession, input: String, reps: Int): Map[String, Any] = {
    val spec = SparkEntry.transcriptPipeline
    def scan = spark.read.parquet(input)
    def adapt = Transcripts.toLogFrame(scan)
    def routed = Pipeline.compile(spec)(adapt)
    def enriched = Enrich.roleToolEnrich(routed)
    def shaped = Exporter.logsV2(enriched)
    val prefixes = Seq("scan" -> (() => scan), "adapt" -> (() => adapt),
      "route_parse" -> (() => routed), "enrich" -> (() => enriched), "shape" -> (() => shaped))
    val times = prefixes.map { case (name, df) =>
      force(df()) // untimed: planning, codegen, page cache
      name -> (1 to reps).map(_ => timed(force(df()))._2 / 1000.0)
    }
    val attrCount = size(col("attributes_string")) + size(col("attributes_number")) +
      size(col("attributes_bool"))
    val inputAttrs = when(col("tool").isNotNull && col("tool") =!= "", 1).otherwise(0)
    val routeRows = routed.withColumn("tool", col("attributes_string").getItem("tool"))
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n"), sum(when(attrCount > inputAttrs, 1).otherwise(0)).as("parsed"))
      .collect().map(r => r.getString(0) -> Map("rows" -> r.getLong(1), "parsed" -> r.getLong(2)))
      .toMap
    Map("prefix_s" -> times.toMap, "routes" -> routeRows)
  }

  /** A traced repeat of one unit of work between two untraced repeats
    * (A-B-A), so that JIT warming over the run does not read as tracing
    * cost.
    */
  def traced[T](spark: SparkSession, spans: Spans)(work: Option[Spans] => T): Map[String, Any] = {
    val a = work(None)
    val probe = new Probe(spark, spans)
    val b = work(Some(spans))
    val layers = probe.finish()
    Map("before" -> a, "traced" -> b, "after" -> work(None), "layers" -> layers)
  }

  /** Files and bytes of a table's current snapshot, plus its JSON size. */
  def snapshotStats(table: String): Map[String, Any] = {
    val snap = GraftTable.current(table).get
    val cur = new String(Files.readAllBytes(Paths.get(table, "meta", "CURRENT")),
      StandardCharsets.UTF_8).trim
    Map("files" -> snap.files.size,
      "bytes" -> snap.files.map(f => Files.size(Paths.get(f.path))).sum,
      "snapshot_bytes" -> Files.size(Paths.get(table, "meta", cur)))
  }
}

/** flagship_batch: TranscriptJob over one generated transcript table into
  * the five GraftTable sinks, repeated closed-loop.
  */
object Flagship {
  import Harness._

  val Sinks = Seq("logs_v2", "logs_v2_resource", "tag_attributes_v2",
    "logs_attribute_keys", "logs_resource_keys")

  def job(spark: SparkSession, input: String, outDir: String): Map[String, Long] = {
    deleteTree(outDir)
    TranscriptJob.run(spark, spark.read.parquet(input), outDir, SparkEntry.transcriptPipeline)
  }

  /** Time `reps` closed-loop runs of `TranscriptJob.run`. */
  def loop(spark: SparkSession, input: String, outDir: String, reps: Int,
      spans: Option[Spans]): Seq[Map[String, Any]] =
    (1 to reps).map { _ =>
      var counts = Map.empty[String, Long]
      val r = attempt {
        counts = spans.fold(job(spark, input, outDir))(_.span("flagship.job")(job(spark, input, outDir)))
      }
      r + ("counts" -> counts)
    }

  def run(o: Opts, out: mutable.Map[String, Any], spans: Spans): Unit = {
    val dir = s"${o.work}/flagship"
    val input = s"$dir/input"
    val turns = o.long("turns")
    val warm = o.int("warm")
    val (spark, setupS) = setUp(o) { s =>
      writeTurns(Transcripts.generate(s, o.long("convs"), o.long("seed")), turns, o.cores, input)
    }
    out("setup_s") = setupS
    out("turns") = spark.read.parquet(input).count()
    // untimed warm-up: planning, codegen and JIT settle over the first runs
    (1 to warm).foreach(_ => job(spark, input, s"$dir/warm"))
    mark("warm-up")
    out("runs") = loop(spark, input, s"$dir/out", o.int("reps"), None)
    mark("timed")

    // read every committed sink back
    out("sinks") = Sinks.map { name =>
      val table = s"$dir/out/$name"
      val back = GraftTable.read(spark, table)
      name -> (Map("snapshot_rows" -> GraftTable.current(table).map(_.rowCount).getOrElse(-1L),
        "read_rows" -> back.count(), "hash" -> contentHash(back)) ++ snapshotStats(table))
    }.toMap
    out("routes") = routeCounts(spark, s"$dir/out/logs_v2")

    if (o.trace) {
      out("trace") = traced(spark, spans)(s => loop(spark, input, s"$dir/out_traced", 1, s))
      out("ablation") = ablation(spark, input, 2)
      out("stream") = stream(spark, dir, o.int("stream_files"), o.long("stream_convs"),
        o.long("seed"), spans)
      // the one-thread side of scaling_eff: the same warm-ups and repeats
      // on the first quarter of the turns, in this (already warm) JVM
      val quarter = s"$dir/input_quarter"
      writeTurns(spark.read.parquet(input), turns / 4, o.cores, quarter)
      spark.stop()
      val one = session(o, 1)
      (1 to warm).foreach(_ => job(one, quarter, s"$dir/warm1"))
      out("one_thread") = Map("turns" -> one.read.parquet(quarter).count(),
        "runs" -> loop(one, quarter, s"$dir/out1", 3, None))
      mark("one-thread")
    }
  }

  def routeCounts(spark: SparkSession, table: String): Map[String, Long] =
    GraftTable.read(spark, table).groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Micro-batch ingest: `files` small transcript files, each generated
    * from its own seed, read one file per trigger (AvailableNow) through
    * StreamJobs.pipelineStream, each batch appended to one GraftTable by
    * the benchmark's foreachBatch. Returns per-batch append times, the
    * streaming progress phases and the committed table's read-back.
    */
  def stream(spark: SparkSession, dir: String, files: Int, convs: Long, seed: Long,
      spans: Spans): Map[String, Any] = {
    val in = Paths.get(dir, "stream_in")
    val staging = s"$dir/stream_staging"
    val table = s"$dir/stream_out"
    Files.createDirectories(in)
    (0 until files).foreach { i =>
      Transcripts.generate(spark, convs, seed * 1000 + i).coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val part = Files.list(Paths.get(staging)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, in.resolve(f"f-$i%03d.parquet"))
    }
    val schema = spark.read.parquet(in.toString).schema
    val appends = mutable.ArrayBuffer.empty[Map[String, Any]]
    val append: (DataFrame, Long) => Unit = (df, _) => appends += attempt {
      spans.span("stream.append") {
        GraftTable.write(df, table, Some("route"), "stream", overwrite = false)
      }
    }
    val source = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in.toString)
    val query = StreamJobs.pipelineStream(source, SparkEntry.transcriptPipeline).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/stream_checkpoint")
      .foreachBatch(append)
      .start()
    query.awaitTermination()
    def phase(p: StreamingQueryProgress, names: String*): Double =
      names.map(n => p.durationMs.getOrDefault(n, 0L).doubleValue).sum
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    mark("stream")
    Map("input_files" -> files, "appends" -> appends.toSeq,
      "batch_ms" -> progress.map(phase(_, "triggerExecution")),
      "plan_ms" -> progress.map(phase(_, "queryPlanning")),
      "offsets_ms" -> progress.map(phase(_, "latestOffset", "getBatch")),
      "wal_ms" -> progress.map(phase(_, "walCommit", "commitOffsets")),
      "snapshot_rows" -> GraftTable.current(table).map(_.rowCount).getOrElse(-1L),
      "read_rows" -> GraftTable.read(spark, table).count(),
      "routes" -> routeCounts(spark, table)) ++ snapshotStats(table)
  }
}

/** query_suite: registry queries over generated tables, in the order the
  * runner passes. The action collects the rows; the collected result is
  * digested after the clock stops.
  */
object Suite {
  import Harness._

  def registry(q: String): String =
    if (graft.Queries.all.contains(q)) "logs"
    else if (graft.DataQueries.all.contains(q)) "data"
    else if (graft.TraceQueries.all.contains(q)) "traces"
    else "metrics"

  def pass(spark: SparkSession, names: Seq[String], data: String,
      spans: Option[Spans]): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    def span[T](name: String)(f: => T): T = spans.fold(f)(_.span(name)(f))
    names.map { q =>
      val builder = SparkEntry.queries(q)
      var buildMs = 0.0
      var rows: Array[Row] = Array.empty
      val r = attempt(span(s"query.${registry(q)}") {
        sc.setLocalProperty("perfbench.phase", "build")
        val (df, ms) = timed(span("build")(builder(spark, data)))
        buildMs = ms
        sc.setLocalProperty("perfbench.phase", "action")
        rows = span("action")(df.collect())
      })
      sc.setLocalProperty("perfbench.phase", null)
      val (n, hash) = Canon.digest(rows)
      r ++ Map("query" -> q, "registry" -> registry(q), "build_ms" -> buildMs,
        "rows" -> n, "hash" -> hash)
    }
  }

  def run(o: Opts, out: mutable.Map[String, Any], spans: Spans): Unit = {
    val data = o.str("data")
    val names = new String(Files.readAllBytes(Paths.get(o.str("queries"))),
      StandardCharsets.UTF_8).split("\\s+").filter(_.nonEmpty).toSeq
    val (spark, setupS) = setUp(o) { s =>
      Seq("events", "documents", "embeddings").foreach(t => s.read.parquet(s"$data/$t.parquet").count())
    }
    out("setup_s") = setupS
    pass(spark, names, data, None) // untimed: the cold pass
    mark("warm-up")
    out("passes") = (1 to o.int("passes")).map(_ => pass(spark, names, data, None))
    mark("timed")
    if (o.trace) out("trace") = traced(spark, spans)(s => pass(spark, names, data, s))
  }
}

/** Canonical, order-insensitive digest of a query result collected to the
  * driver: doubles rounded to 6 significant digits (aggregation order moves
  * the last bits), map entries and array elements sorted, rows sorted.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6g"
    case f: Float => value(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).sorted.mkString("[", ",", "]")
    case other => other.toString
  }

  def digest(result: Array[Row]): (Long, String) = {
    val rows = result.map(r => value(r)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}
