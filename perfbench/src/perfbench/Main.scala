package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.{DedupIndex, RetrievalIndex}
import graft.streaming.{Events, StateStores, StreamingDedup}

/** One finished call into the library. */
final case class OpRecord(id: Int, round: Int, kind: String, layer: String,
    name: String, wallS: Double, rows: Long, inBytes: Long, ok: Boolean,
    traced: Boolean)

/** A result to compare after the run: the output at `got` against
  * `gate`'s oracle SQL, or a comparison already decided in the JVM.
  */
final case class Check(name: String, got: String, gate: String,
    verdict: Option[Boolean] = None)

/** Times every op, sets a job group around it and hands its span to the
  * tracer. An op that throws is recorded as failed and the loop goes on.
  */
final class Runner(spark: SparkSession, val tracer: Tracer) {
  val records = mutable.ArrayBuffer[OpRecord]()
  val batches = mutable.ArrayBuffer[(Int, Double)]()
  var round = 0
  private var nextId = 0

  def op(kind: String, layer: String, name: String, rows: Long = 0L,
      inBytes: Long = 0L)(body: Int => Unit): Boolean = {
    val id = nextId
    nextId += 1
    spark.sparkContext.setJobGroup(s"perfbench-op-$id", name)
    tracer.opened(id)
    val t0 = System.nanoTime()
    val ok = try { body(id); true } catch { case e: Throwable =>
      System.err.println(s"[perfbench] op $name failed: $e")
      false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.closed(id, kind, layer)
    spark.sparkContext.clearJobGroup()
    records += OpRecord(id, round, kind, layer, name, wall, rows, inBytes,
      ok, tracer.tracing)
    ok
  }

  /** Wait for a stream's AvailableNow drain; keep its batch durations. */
  def drain(id: Int, q: StreamingQuery): Unit = {
    tracer.streamStarted(q.id, id)
    q.awaitTermination()
    q.recentProgress.foreach(p => batches += ((id, p.batchDuration / 1000.0)))
  }
}

/** A closed loop over a cycle of ops: set up once, run the untimed
  * warm-up steps, then whole cycles until the time is spent; then check
  * every output.
  */
trait Workload {
  /** Staging and initial builds that a user pays once. */
  def setup(): Unit
  /** Steps in one cycle. */
  def cycle: Int
  /** Run op `step % cycle` of the cycle. */
  def step(run: Runner, step: Int): Unit
  /** Results to compare once the loop has ended. */
  def checks(): Seq[Check]
  def oracleGates: Seq[String]
  /** True when the staged input is used up and the loop must end. */
  def exhausted: Boolean = false
  def extra: Map[String, Double] = Map.empty
}

object Main {
  def main(args: Array[String]): Unit =
    try run(args) catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val data = opts("data")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    if (trace) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      // the FS cache is keyed by scheme, not by conf: drop any instance
      // made before the session conf applied
      org.apache.hadoop.fs.FileSystem.closeAll()
      val fs = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem], s"file system is ${fs.getClass}")
    }
    sys.props("graft.fixture.dir") = s"$work/fixtures"
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark)
    val run = new Runner(spark, tracer)
    val w: Workload = workload match {
      case "batch_curate" => new BatchCurate(spark, data, work)
      case "index_churn" => new IndexChurn(spark, data, work)
      case "stream_ingest" => new StreamIngest(spark, data, work)
    }
    val s0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    // warm-up: one untimed cycle lets JIT, codegen and caches settle
    var steps = 0
    val w0 = System.nanoTime()
    run.round = -1
    while (steps < w.cycle) { w.step(run, steps); steps += 1 }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val roundWall = mutable.ArrayBuffer[(Boolean, Double)]()
    def timedCycle(traced: Boolean): Unit = {
      if (traced) tracer.enable() else tracer.disable()
      run.round += 1
      val r0 = System.nanoTime()
      (0 until w.cycle).foreach { _ => w.step(run, steps); steps += 1 }
      roundWall += ((traced, (System.nanoTime() - r0) / 1e9))
    }
    run.round = 0
    if (trace) {
      // a fixed schedule, so counters repeat exactly for one seed; the
      // untraced cycles on either side of the traced one price the
      // tracing without charging it any drift along the run
      Seq(false, true, false).foreach(timedCycle)
      tracer.disable()
      tracer.settle()
    } else {
      // whole cycles, at least one, so every run measures the same mix
      val start = System.nanoTime()
      do timedCycle(false)
      while ((System.nanoTime() - start) / 1e9 < seconds && !w.exhausted)
    }
    spark.sparkContext.clearJobGroup()
    val checks = w.checks()
    val layers = if (trace) Rollup(run, tracer, roundWall.toSeq, spark.sparkContext.defaultParallelism) else Map.empty[String, Double]
    val rssMb = peakRssMb()
    val oracle = w.oracleGates.map(g => g -> SparkEntry.oracleSql(g)).toMap

    import org.json4s._
    import org.json4s.JsonDSL._
    val json: JValue =
      ("workload" -> workload) ~ ("cpus" -> cpus) ~ ("session_s" -> sessionS) ~
      ("setup_s" -> setupS) ~ ("warmup_s" -> warmupS) ~
      ("rounds" -> roundWall.toList.map { case (t, s) => ("traced" -> t) ~ ("wall_s" -> s) }) ~
      ("ops" -> run.records.toList.map(r =>
        ("id" -> r.id) ~ ("round" -> r.round) ~ ("kind" -> r.kind) ~ ("layer" -> r.layer) ~
        ("name" -> r.name) ~ ("wall_s" -> r.wallS) ~ ("rows" -> r.rows) ~
        ("in_bytes" -> r.inBytes) ~ ("ok" -> r.ok) ~ ("traced" -> r.traced))) ~
      ("batches" -> run.batches.toList.map { case (id, d) => ("op" -> id) ~ ("duration_s" -> d) }) ~
      ("checks" -> checks.toList.map(c =>
        ("name" -> c.name) ~ ("got" -> c.got) ~ ("gate" -> c.gate) ~ ("ok" -> c.verdict))) ~
      ("oracle_sql" -> oracle) ~ ("extra" -> w.extra) ~ ("layers" -> layers) ~
      ("peak_rss_mb" -> rssMb)
    Files.writeString(Paths.get(s"$work/result.json"),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(json)))
    spark.stop()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Helpers shared by the workloads. */
object Io {
  /** Rows and bytes of each generated file, from the generator's manifest. */
  def manifest(data: String): Map[String, (Long, Long)] = {
    import org.json4s._
    val files = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(s"$data/manifest.json")), "UTF-8")) \ "files"
    files match {
      case JObject(fs) => fs.map { case (k, v) =>
        def n(f: String) = (v \ f) match { case JInt(i) => i.toLong; case _ => 0L }
        k -> (n("rows"), n("bytes"))
      }.toMap
      case _ => Map.empty
    }
  }
  def rm(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
  def copy(spark: SparkSession, from: String, to: String): Unit = {
    rm(spark, to)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(from)
    FileUtil.copy(src.getFileSystem(conf), src, new Path(to).getFileSystem(conf),
      new Path(to), false, conf)
  }
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(g => bytes(g.getPath)).sum
    else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) 0L
    else f.length()
  }
}

/** Batch curation through the gates: core reshapes (flatten), LLM-data
  * operators (curate) and codec / tokenizer functions (decode). Every
  * op materializes one gate's result to parquet; each result is later
  * compared with the gate's DuckDB oracle.
  */
final class BatchCurate(spark: SparkSession, data: String, work: String) extends Workload {
  private val ops: Seq[(String, String, String, String)] = Seq(
    ("flatten", "core", "to_long_map", "events"),
    ("curate", "operators", "curate_pipeline", "documents"),
    ("decode", "functions", "multimodal_audiodup_mp3", "documents"),
    ("flatten", "core", "multid_pivot_agg", "lineitem"),
    ("curate", "operators", "dedup_lsh_char", "documents"),
    ("decode", "functions", "token_counts_bpe", "documents"))
  private val sizes = Io.manifest(data)
  private val outputs = mutable.ArrayBuffer[(String, String)]()

  // the warm-up cycle stages the codec fixtures (graft.fixture.dir)
  def setup(): Unit = ()
  def cycle: Int = ops.size

  def step(run: Runner, i: Int): Unit = {
    val (kind, layer, gate, table) = ops(i % ops.size)
    val out = s"$work/out/$gate/${run.records.size}"
    val (rows, bytes) = sizes(table)
    val ok = run.op(kind, layer, gate, rows, bytes) { _ =>
      SparkEntry.queries(gate)(spark, data).write.mode("overwrite").parquet(out)
    }
    if (ok) outputs += gate -> out
  }

  def checks(): Seq[Check] =
    outputs.toSeq.map { case (g, out) => Check(g, out, g) }
  def oracleGates: Seq[String] = ops.map(_._3)
}

/** Writes beside reads on persisted indexes: the exact/near-dup
  * `DedupIndex` and the BM25 `RetrievalIndex`. Set-up builds both on
  * the initial corpus; each step then appends the next staged batch to
  * one index, compacts it and probes it. The indexes grow across the
  * run.
  */
final class IndexChurn(spark: SparkSession, data: String, work: String) extends Workload {
  private val idx = s"$work/idx"
  private def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")
  private val sizes = Io.manifest(data)
  private val nBatches = sizes.keys.count(_.startsWith("batch_docs_"))
  private val families = Seq("dedup", "bm25")
  private val appended = mutable.Map[String, Int]().withDefaultValue(0)
  private val queries = Seq(0L -> "spark window merge", 1L -> "hash join table scan",
    2L -> "customer vector stream")
  private lazy val probe = table("probe_docs").localCheckpoint()
  private def batch(b: Int) = f"batch_docs_$b%03d"

  private def build(f: String, dir: String, batches: Seq[Int]): Unit = {
    val docs = batches.map(b => table(batch(b))).foldLeft(table("documents"))(_ union _)
    f match {
      case "dedup" => DedupIndex.build(docs, "doc_id", "text", dir)
      case "bm25" => RetrievalIndex.build(docs, "doc_id", "text", dir)
    }
  }

  def setup(): Unit = {
    Io.rm(spark, idx)
    families.foreach(f => build(f, s"$idx/$f", Nil))
  }
  def cycle: Int = families.size
  override def exhausted: Boolean = appended.values.exists(_ >= nBatches)

  private def probeFrame(f: String, dir: String): DataFrame = f match {
    case "dedup" => DedupIndex.dedupBatch(spark, dir, probe, "doc_id", "text")
      .survivors.select("doc_id")
    case "bm25" => RetrievalIndex.score(spark, dir, queries)
      .select(col("qid"), col("doc_id"), functions.round(col("score"), 6).as("score"))
  }

  /** Rows as sorted strings, doubles to 6 places: the oracle rule. */
  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      case o => String.valueOf(o)
    }.mkString("|")).toSeq.sorted
  private val lastProbe = mutable.Map[String, Seq[String]]()

  def step(run: Runner, i: Int): Unit = {
    val f = families(i % families.size)
    val dir = s"$idx/$f"
    val b = appended(f)
    val in = table(batch(b))
    val (rows, bytes) = sizes(batch(b))
    run.op("append", "sources", s"${f}_append", rows, bytes) { _ =>
      f match {
        case "dedup" => DedupIndex.append(spark, dir, in, "doc_id", "text").count()
        case "bm25" => RetrievalIndex.append(spark, dir, in, "doc_id", "text", s"a$b")
      }
    }
    appended(f) = b + 1
    run.op("compact", "sources", s"${f}_compact") { _ =>
      f match {
        case "dedup" => DedupIndex.compact(spark, dir)
        case "bm25" => RetrievalIndex.compact(spark, dir)
      }
    }
    run.op("probe", "sources", s"${f}_probe", sizes("probe_docs")._1) { _ =>
      lastProbe(f) = canon(probeFrame(f, dir).collect())
    }
  }

  /** Each grown index's last probe against the same probe of a
    * from-scratch build over the same rows.
    */
  def checks(): Seq[Check] = families.filter(lastProbe.contains).map { f =>
    val scratch = s"$work/scratch/$f"
    build(f, scratch, 0 until appended(f))
    Check(s"${f}_probe", "", "", Some(canon(probeFrame(f, scratch).collect()) == lastProbe(f)))
  }
  def oracleGates: Seq[String] = Nil

  override def extra: Map[String, Double] = {
    val in = families.map(f => sizes("documents")._2 +
      (0 until appended(f)).map(b => sizes(batch(b))._2).sum).sum
    Map("index_bytes" -> Io.bytes(idx).toDouble, "index_input_bytes" -> in.toDouble)
  }
}

/** Streaming gates draining the staged document and event backlogs
  * with AvailableNow. Each op runs one gate's stream into a fresh
  * output, from a copy of the index set-up built for it, and its
  * result is compared with the gate's oracle.
  */
final class StreamIngest(spark: SparkSession, data: String, work: String) extends Workload {
  private val pristine = s"$work/pristine"
  private val live = s"$work/live"
  private val outputs = mutable.ArrayBuffer[(String, String)]()
  private val sizes = Io.manifest(data)
  private val (docRows, docBytes) = sizes("documents")
  private val (eventRows, eventBytes) = sizes("events")

  private def docs = spark.read.parquet(s"$data/documents.parquet")
  private def docStream = spark.readStream.schema(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    .parquet(s"$data/{documents.parquet}")

  def setup(): Unit = {
    Io.rm(spark, pristine)
    DedupIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", s"$pristine/dedup")
  }

  private def stream(run: Runner, gate: String, rows: Long, bytes: Long)(
      start: => StreamingQuery)(result: => DataFrame): Unit = {
    val out = s"$work/out/$gate/${run.records.size}"
    val ok = run.op("microbatch", "streaming", gate, rows, bytes) { id =>
      run.drain(id, start)
    }
    if (ok) {
      result.write.mode("overwrite").parquet(out)
      outputs += gate -> out
    }
  }

  private val gates = Seq("streaming_dedup_index", "streaming_sessionize_rocksdb",
    "streaming_hourly_hll")
  def cycle: Int = gates.size

  def step(run: Runner, i: Int): Unit = gates(i % gates.size) match {
    case g @ "streaming_dedup_index" =>
      Io.copy(spark, s"$pristine/dedup", s"$live/dedup")
      Io.rm(spark, s"$live/dedup_out")
      stream(run, g, docRows / 3, docBytes) {
        StreamingDedup.indexedDedupStream(docStream.filter(col("doc_id") % 3 === 0),
          s"$live/dedup", s"$live/dedup_out", "doc_id", "text")
          .trigger(Trigger.AvailableNow()).start()
      }(spark.read.parquet(s"$live/dedup_out").select(col("doc_id"), col("n_chars")))

    case g @ "streaming_sessionize_rocksdb" =>
      val name = s"perfbench_sessions_${run.records.size}"
      stream(run, g, eventRows, eventBytes) {
        StateStores.withRocksDb(spark) {
          Events.streamingSessionize(spark, s"$data/{events.parquet}", gapMicros = 1800L * 1000 * 1000)
            .writeStream.format("memory").queryName(name).outputMode("append")
            .trigger(Trigger.AvailableNow()).start()
        }
      }(spark.table(name).select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_sum")))

    case g @ "streaming_hourly_hll" =>
      val name = s"perfbench_hll_${run.records.size}"
      stream(run, g, eventRows, eventBytes) {
        Events.streamingHourlyUserRegisters(spark, s"$data/{events.parquet}")
          .writeStream.format("memory").queryName(name).outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
      }(graft.operators.Sketches.hllEstimateBy(spark.table(name), Seq("hour_id"), p = 12)
        .select(col("hour_id"), col("m"), col("v_zero"),
          functions.round(col("raw_estimate"), 6).as("raw_estimate"),
          functions.round(col("estimate"), 6).as("estimate")))
  }

  def checks(): Seq[Check] =
    outputs.toSeq.map { case (g, out) => Check(g, out, g) }
  def oracleGates: Seq[String] = gates
}
