package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.ops.CatalogOps
import graft.pipeline.{IngestionPipeline, QueryPipeline}

/** One benchmark run inside one JVM: set-up, then a closed loop of timed
  * operations from a single client thread, then the untimed work the
  * checker needs. Reads the run's config (written by run.py) and writes
  * `result.json` into the working directory, which is fresh per run.
  *
  * With tracing on, every operation runs twice back to back, once plain
  * and once traced (alternating which goes first), so the traced run also
  * measures what tracing costs. */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val cfg = mapper.readTree(new File(args(0)))
    val cpus = cfg.get("cpus").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, cfg, sessionS = (System.nanoTime() - t0) / 1e9)
    val out = try run.execute() finally spark.stop()
    out.put("peak_rss_mb", vmHwmMb())
    mapper.writeValue(new File("result.json"), out)
  }

  /** The process's resident-set high-water mark (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def json: ObjectMapper = mapper
}

/** One measured execution: its latency and its record for run.py. */
final case class Sample(latency: Double, json: ObjectNode)

/** Per-layer values: each name collects samples, reported as their mean. */
final class Layers {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def addJobs(prefix: String, jobs: Seq[JobRec], fields: Seq[String]): Unit =
    fields.foreach { f =>
      add(s"$prefix.$f", f match {
        case "jobs" => jobs.size.toDouble
        case "jobs_s" => jobs.map(_.seconds).sum
        case "stages" => jobs.map(_.stages).sum.toDouble
        case "single_task_stages" => jobs.map(_.singleTaskStages).sum.toDouble
        case "tasks" => jobs.map(_.tasks).sum.toDouble
        case "input_bytes" => jobs.map(_.inputBytes).sum.toDouble
        case "shuffle_read_bytes" => jobs.map(_.shuffleRead).sum.toDouble
        case "shuffle_write_bytes" => jobs.map(_.shuffleWrite).sum.toDouble
        case "spill_bytes" => jobs.map(_.spill).sum.toDouble
        case "peak_exec_mem_bytes" => (0L +: jobs.map(_.peakExecMem)).max.toDouble
      })
    }
  def toJson(node: ObjectNode): Unit = samples.foreach { case (k, v) =>
    node.put(k, v.sum / v.size)
  }
}

final class Run(spark: SparkSession, cfg: JsonNode, sessionS: Double) {
  private val sc = spark.sparkContext
  private val workload = cfg.get("workload").asText
  private val timedOps = cfg.get("timed_ops").asInt
  private val traceOn = cfg.get("trace").asBoolean
  private val launchNs = cfg.get("launch_epoch_ns").asLong
  private val mapper = Main.json
  private val out = mapper.createObjectNode()
  private val opsOut = out.putArray("ops")
  private val spansOut = mapper.createArrayNode()
  private val layers = new Layers
  private val tracer = new Tracer
  private var opSeq = 0

  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  /** Runs `f` with the listener attached; drains the bus before detaching
    * so no event of `f` is lost. */
  private def traced[T](f: => T): T = {
    sc.addSparkListener(tracer)
    try { val r = f; org.apache.spark.PerfbenchBus.drain(sc); r }
    finally sc.removeSparkListener(tracer)
  }

  def execute(): ObjectNode = {
    steps.put("session", sessionS)
    if (traceOn) sc.addSparkListener(tracer) // set-up is traced too
    val ops: Iterator[Op] = workload match {
      case "ingest" => new IngestOps().setup()
      case "ask" => new AskOps().setup()
    }
    if (traceOn) sc.removeSparkListener(tracer)
    val sentinel = if (traceOn) Some(new Sentinel(spark)) else None
    sentinel.foreach(s => layers.add("box.sentinel_start_s", s.time()))
    val rddsBefore = sc.getPersistentRDDs.size
    out.put("setup_s", (epochNs() - launchNs) / 1e9)
    var timed = 0.0
    val overhead = mutable.ArrayBuffer.empty[Double]
    // a fixed number of ops from a sequence that is the same for every seed
    // (only parameters and data differ), so every run times the same mix
    // of work however fast the engine is
    ops.take(timedOps).foreach { op =>
      val plain = if (!traceOn) op.run(None)
      else if (opSeq % 2 == 0) { val p = op.run(None); op.runTraced(); p }
      else { op.runTraced(); op.run(None) }
      opSeq += 1
      timed += plain.latency
      opsOut.add(plain.json)
      if (traceOn) overhead += op.lastTraced / plain.latency
    }
    out.put("timed_s", timed)
    layers.add("spark.persistent_rdds_delta", (sc.getPersistentRDDs.size - rddsBefore).toDouble)
    if (traceOn) {
      sentinel.foreach { s =>
        val end = s.time()
        layers.add("box.sentinel_end_s", end)
        s.close()
      }
      val sorted = overhead.sorted
      layers.add("trace.overhead_frac", sorted(sorted.size / 2) - 1.0)
      traced(new Probe().run())
      val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      layers.add("jvm.gc_s", gcs.map(_.getCollectionTime).sum / 1e3)
      val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      layers.add("jvm.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      layers.toJson(out.putObject("layers"))
      Files.writeString(Paths.get("spans.json"), mapper.writeValueAsString(spansOut))
    }
    out.put("cores", sc.defaultParallelism)
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    out
  }

  /** One timed operation. `run(None)` is the plain, measured execution;
    * `runTraced` repeats it under the listener and the phase timeline. */
  abstract class Op(val id: String, val cls: String) {
    var lastTraced = 0.0
    def run(tl: Option[Timeline]): Sample
    def runTraced(): Sample = {
      val tl = new Timeline(sc, s"$id#${opSeq}")
      val s = traced(run(Some(tl)))
      lastTraced = s.latency
      val jobs = tracer.jobsOf(sc, tl)
      record(tl, jobs, s)
      // one record per op: phase totals, then the span tree (phase spans,
      // and each Spark job under the phase that submitted it), in seconds
      // from the op's start
      val rec = spansOut.addObject()
      rec.put("op", id).put("cls", cls).put("wall_s", tl.wall).put("jobs", jobs.size)
      val ph = rec.putObject("phases")
      tl.seconds.foreach { case (k, v) => ph.put(k, v) }
      val tree = rec.putArray("spans")
      val t0 = tl.spans.head._2
      tl.spans.foreach { case (name, a, b) =>
        tree.addObject().put("name", name).put("start_s", (a - t0) / 1e9).put("end_s", (b - t0) / 1e9)
      }
      jobs.foreach { j =>
        tree.addObject().put("name", s"job ${j.id}").put("parent", j.phase)
          .put("start_s", (j.startMs - tl.startEpochMs) / 1e3)
          .put("end_s", (j.endMs - tl.startEpochMs) / 1e3)
      }
      s
    }
    def record(tl: Timeline, jobs: Seq[JobRec], s: Sample): Unit
  }

  private def sample(id: String, cls: String, latency: Double): ObjectNode =
    mapper.createObjectNode().put("id", id).put("cls", cls).put("latency_s", latency)

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val steps = out.putObject("setup_steps")
  /** A named set-up step, timed for the run's diagnostics. */
  private def step[T](name: String)(f: => T): T = {
    val (r, secs) = time(f)
    steps.put(name, secs)
    r
  }

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  // ------------------------------------------------------------- ingest

  private val ingestStages = Seq("fetch", "read_schema", "read_clean_write",
    "profile", "chunk_collection")

  /** One traced or plain `IngestionPipeline.run` over `inputs` into a fresh
    * directory; the stage times come through the public stage sink. The
    * sink reports a stage when it ends, so the timeline names each span
    * then; the span after the last stage (the catalog write) is "other". */
  private def ingestRun(inputs: Seq[String], dir: String, tl: Option[Timeline])
      : (IngestionPipeline.PipelineResult, Double, Map[String, Double]) = {
    val stages = mutable.LinkedHashMap.empty[String, Double]
    tl.foreach(_.mark("other"))
    val (res, lat) = time(IngestionPipeline.run(spark, inputs, dir, resume = false,
      stageSink = (name, secs) => {
        stages(name) = stages.getOrElse(name, 0.0) + secs
        tl.foreach { t => t.rename(name); t.mark("other") }
      }))
    tl.foreach(_.close())
    (res, lat, stages.toMap)
  }

  private def recordIngest(res: IngestionPipeline.PipelineResult,
      inputs: Seq[String], dir: String, stages: Map[String, Double],
      jobs: Seq[JobRec]): Unit = {
    ingestStages.foreach(s => layers.add(s"ingest.${s}_s", stages.getOrElse(s, 0.0)))
    val inBytes = inputs.map(p => new File(p).length).sum.toDouble
    val pq = dirBytes(new File(s"$dir/parquet_files")).toDouble
    val coll = dirBytes(new File(s"$dir/collections")).toDouble
    layers.add("ingest.tables", res.files.size.toDouble)
    layers.add("ingest.rows", res.files.map(_.rows).sum.toDouble)
    layers.add("ingest.in_bytes", inBytes)
    layers.add("ingest.parquet_bytes", pq)
    layers.add("ingest.collection_bytes", coll)
    layers.add("ingest.out_bytes_per_in_byte", (pq + coll) / inBytes)
    layers.add("ingest.chunks", res.files.map { f =>
      spark.read.parquet(s"$dir/collections/data_source_${f.table}.parquet").count()
    }.sum.toDouble)
    layers.addJobs("ingest", jobs, Seq("jobs", "tasks", "shuffle_write_bytes"))
  }

  final class IngestOps {
    private val inputs = strings(cfg.get("inputs"))
    private val inBytes = inputs.map(p => new File(p).length).sum
    private var n = 0

    private def op(): Op = new Op(s"batch$n", "batch") {
      n += 1
      private var k = 0
      private var last: (IngestionPipeline.PipelineResult, String, Map[String, Double]) = _
      def run(tl: Option[Timeline]): Sample = {
        val dir = new File(s"ingest_out/$id-$k").getAbsolutePath
        k += 1
        val (res, lat, stages) = ingestRun(inputs, dir, tl)
        last = (res, dir, stages)
        Sample(lat, sample(id, cls, lat).put("dir", dir).put("input_bytes", inBytes))
      }
      def record(tl: Timeline, jobs: Seq[JobRec], s: Sample): Unit =
        recordIngest(last._1, inputs, last._2, last._3, jobs)
    }

    def setup(): Iterator[Op] = {
      // untimed warm batch: class loading, JIT and codegen of every stage
      step("warm_batch")(ingestRun(inputs, new File("ingest_out/warm").getAbsolutePath, None))
      Iterator.continually(op())
    }
  }

  // ------------------------------------------------------------- ask

  private def entriesOf(res: IngestionPipeline.PipelineResult): Seq[CatalogOps.TableEntry] =
    mapper.readTree(res.catalogJson).elements.asScala
      .map(n => CatalogOps.entryFromJson(mapper.writeValueAsString(n))).toSeq

  /** Bytes of every file-backed relation a result reads. */
  private def scannedBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.map(p => new File(new java.net.URI(p)).length).sum
          case _ => 0L
        }
      case _ => 0L
    }.sum

  private def cell(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case x: java.lang.Long => mapper.getNodeFactory.numberNode(x)
    case x: java.lang.Integer => mapper.getNodeFactory.numberNode(x.longValue)
    case x: java.lang.Short => mapper.getNodeFactory.numberNode(x.longValue)
    case x: java.lang.Double => mapper.getNodeFactory.numberNode(x)
    case x: java.lang.Float => mapper.getNodeFactory.numberNode(x.doubleValue)
    case x: java.math.BigDecimal => mapper.getNodeFactory.numberNode(x)
    case x: java.lang.Boolean => mapper.getNodeFactory.booleanNode(x)
    case x => mapper.getNodeFactory.textNode(x.toString)
  }

  private def answerJson(ans: QueryPipeline.Answer): ArrayNode = {
    val subs = mapper.createArrayNode()
    ans.subResults.foreach { r =>
      val s = subs.addObject()
      s.put("sub", r.subQuery)
      r.error.foreach(e => s.put("error", e))
      val rows = s.putArray("rows")
      r.result.collect().foreach { row: Row =>
        val a = rows.addArray()
        (0 until row.length).foreach(i => a.add(cell(row.get(i))))
      }
    }
    subs
  }

  /** Per-question planner and query-layer values from one traced run. */
  private def recordQuestion(tl: Timeline, jobs: Seq[JobRec],
      th: TimedHooks, subQueries: Int): Unit = {
    val sec = tl.seconds.withDefaultValue(0.0)
    Seq("decompose", "identify", "route", "sqlgen").foreach(p =>
      layers.add(s"planner.${p}_s", sec(p)))
    layers.add("planner.sub_queries", subQueries.toDouble)
    layers.add("planner.sql_generated_ratio",
      if (th.sqlAttempts == 0) 0.0 else th.sqlGenerated.toDouble / th.sqlAttempts)
    val retrieveJobs = jobs.filter(_.phase == "retrieve").map(_.seconds).sum
    layers.add("query.register_s", sec("register"))
    layers.add("query.retrieve_s", math.min(retrieveJobs, sec("retrieve")))
    layers.add("query.ground_s", math.max(0.0, sec("retrieve") - retrieveJobs))
    layers.add("query.execute_s", sec("execute"))
    layers.add("query.jobs_per_subquery", jobs.size.toDouble / math.max(1, subQueries))
    layers.addJobs("query", jobs, Seq("jobs_s", "stages", "tasks", "input_bytes",
      "shuffle_read_bytes", "shuffle_write_bytes"))
  }

  /** One question through `QueryPipeline.run` with the default hooks, or
    * with timing delegates around them when traced. */
  private def ask(q: String, catalog: Seq[CatalogOps.TableEntry],
      coll: Option[String], tl: Option[Timeline])
      : (QueryPipeline.Answer, Double, Option[TimedHooks]) = {
    val th = tl.map(t => new TimedHooks(QueryPipeline.Hooks(), t))
    tl.foreach(_.mark("register"))
    val (ans, lat) = time(QueryPipeline.run(spark, q, catalog,
      th.map(_.hooks).getOrElse(QueryPipeline.Hooks()), coll))
    tl.foreach(_.close())
    (ans, lat, th)
  }

  final class AskOps {
    private var catalog = Seq.empty[CatalogOps.TableEntry]
    private var collections = Map.empty[String, String]
    private val answers = out.putArray("answers")

    private def collectionOf(q: JsonNode): Option[String] =
      Option(q.get("collection")).filterNot(_.isNull).map(c => collections(c.asText))

    private def op(q: JsonNode): Op = new Op(q.get("id").asText, q.get("cls").asText) {
      private val text = q.get("text").asText
      private val coll = collectionOf(q)
      private var last: (QueryPipeline.Answer, Option[TimedHooks]) = _
      def run(tl: Option[Timeline]): Sample = {
        val (ans, lat, th) = ask(text, catalog, coll, tl)
        last = (ans, th)
        val j = sample(id, cls, lat)
        if (tl.isEmpty) {
          // untimed: the rows for the checker and the bytes the op scanned
          j.put("input_bytes", ans.subResults.map(r => scannedBytes(r.result)).sum +
            coll.map(c => dirBytes(new File(c))).getOrElse(0L))
          answers.addObject().put("id", id).set[ArrayNode]("subs", answerJson(ans))
        }
        Sample(lat, j)
      }
      def record(tl: Timeline, jobs: Seq[JobRec], s: Sample): Unit =
        recordQuestion(tl, jobs, last._2.get, last._1.subResults.size)
    }

    def setup(): Iterator[Op] = {
      val sf = cfg.get("sf_dir").asText
      val dir = new File("ask_catalog").getAbsolutePath
      val lookups = strings(cfg.get("lookups"))
      val tl = if (traceOn) Some(new Timeline(sc, "setup-ingest")) else None
      val (res, _, stages) = step("ingest_lookups")(ingestRun(lookups, dir, tl))
      tl.foreach(t => recordIngest(res, lookups, dir, stages, tracer.jobsOf(sc, t)))
      require(res.failed.isEmpty, s"catalog ingest failed: ${res.failed}")
      catalog = step("profile_tables")(
        strings(cfg.get("tables")).map(CatalogOps.profileTable(spark, sf, _))) ++ entriesOf(res)
      collections = res.files.map(f =>
        f.table -> s"$dir/collections/data_source_${f.table}.parquet").toMap
      val (warm, timed) = mapper.readTree(new File(cfg.get("questions").asText))
        .elements.asScala.toSeq.partition(_.get("cls").asText == "warm")
      step("warm_questions")(warm.foreach(q =>
        ask(q.get("text").asText, catalog, collectionOf(q), None)))
      timed.iterator.map(op)
    }
  }

  // ------------------------------------------------------------- faces

  /** The heaviest operator faces of `graft.Bench.headline`; the probe times
    * each of them, split into construct, plan and execute. */
  private val heavyFaces = Set("q_fuzzy_join", "q_dedup_spans",
    "q_ngram_jaccard_pairs", "q_dedup_clusters_incremental",
    "q_dup_ngram_spans", "q_retrieval_metrics", "q_dedup_clusters",
    "q_planned_skew_join", "q_agg_groupby", "q_cube")

  /** Builds the persisted inverted index, an artifact the operator faces
    * probe; the build is timed and its bytes counted. */
  private def ensureArtifacts(sf: String): Unit = {
    val before = dirBytes(new File("target"))
    val (_, secs) = step("artifact.lex_index")(
      time(graft.ops.SearchOps.ensureLexIndex(spark, sf)))
    layers.add("artifact.build_s", secs)
    layers.add("artifact.count", 1.0)
    layers.add("artifact.bytes", (dirBytes(new File("target")) - before).toDouble)
  }

  private def faceOp(name: String, sf: String, fn: (SparkSession, String) => DataFrame): Op =
    new Op(name, "face") {
      def run(tl: Option[Timeline]): Sample = {
        val t0 = System.nanoTime()
        tl.foreach(_.mark("construct"))
        val df = fn(spark, sf)
        val t1 = System.nanoTime()
        tl.foreach(_.mark("plan"))
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        tl.foreach(_.mark("execute"))
        val rows = df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        tl.foreach(_.close())
        val j = sample(id, cls, (t3 - t0) / 1e9).put("rows", rows)
        if (tl.isEmpty) j.put("input_bytes", scannedBytes(df))
        Sample((t3 - t0) / 1e9, j)
      }
      def record(tl: Timeline, jobs: Seq[JobRec], s: Sample): Unit = {
        val sec = tl.seconds.withDefaultValue(0.0)
        Seq("construct", "plan", "execute").foreach(p => layers.add(s"ops.${p}_s", sec(p)))
        layers.addJobs("ops", jobs, Seq("jobs", "stages", "single_task_stages", "tasks",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes"))
        if (heavyFaces(id)) {
          layers.add(s"face.$id.construct_s", sec("construct"))
          layers.add(s"face.$id.execute_s", sec("execute"))
          layers.add(s"face.$id.jobs", jobs.size.toDouble)
        }
      }
    }

  // ------------------------------------------------------------- probe

  /** Traced runs end with one small pass through the layers the workload
    * itself does not drive, over the tiny probe tables, so every per-layer
    * metric is measured on every workload. Plain runs never do this. */
  final class Probe {
    private val sf = cfg.get("probe_dir").asText

    private def once(op: Op): Unit = { op.runTraced(); () }

    def run(): Unit = {
      if (workload != "ask") {
        val catalog = Seq("nation", "region", "supplier")
          .map(CatalogOps.profileTable(spark, sf, _))
        val coll = s"${graft.ops.GroundOps.ensureGroundCollection(spark, sf)}/chunks"
        Seq(("simple", "count nations", None),
          ("join", "total acctbal per regionkey for supplier and nation", None),
          ("multi", "count nations; count regions; how many supplier", None),
          ("ground", graft.ops.GroundOps.question, Some(coll))).foreach {
          case (klass, q, c) =>
            once(new Op(s"probe-$klass", klass) {
              private var last: (QueryPipeline.Answer, Option[TimedHooks]) = _
              def run(tl: Option[Timeline]): Sample = {
                val (ans, lat, th) = ask(q, catalog, c, tl)
                last = (ans, th)
                Sample(lat, sample(id, cls, lat))
              }
              def record(tl: Timeline, jobs: Seq[JobRec], s: Sample): Unit = {
                recordQuestion(tl, jobs, last._2.get, last._1.subResults.size)
                layers.add(s"ask.${cls}_p50_s", s.latency)
              }
            })
        }
      }
      ensureArtifacts(sf)
      val all = SparkEntry.queries
      heavyFaces.toSeq.sorted.foreach(n => once(faceOp(n, sf, all(n))))
    }
  }
}

/** A copy of the operator bench's drift sentinel: the same CPU-bound,
  * IO-free aggregation over a cached 10M-row range, timed at the start and
  * the end of the timed region. */
final class Sentinel(spark: SparkSession) {
  import org.apache.spark.sql.functions._
  private val base = spark.range(0, 10L * 1000 * 1000).toDF("id").cache()
  private def force(df: DataFrame): Unit = { df.queryExecution.toRdd.count(); () }
  force(base)
  private def probe(): Unit = force(
    base.groupBy(pmod(col("id"), lit(1024)).as("g"))
      .agg(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"), count(lit(1)).as("n")))
  probe()
  def time(): Double = {
    System.gc()
    val t0 = System.nanoTime()
    probe()
    (System.nanoTime() - t0) / 1e9
  }
  def close(): Unit = { base.unpersist(blocking = true); () }
}
