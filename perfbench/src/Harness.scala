package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One timed op: its kind (build or query), a label, its wall
  * seconds, whether it and its answer check passed, and whether it ran with
  * tracing on. */
final case class OpRecord(kind: String, name: String, seconds: Double,
    ok: Boolean, traced: Boolean, detail: String = "")

/** Everything a workload needs: the session, its generated inputs, the
  * tracer, the output document and the clock. */
final class Ctx(val spark: SparkSession, val in: JsonNode, val out: ObjectNode,
    val tracer: Tracer, val seconds: Double, val workDir: String) {
  val ops = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Set-up work that failed; any entry fails the run's answer checks. */
  val warmFailures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Epoch ms at which the first timed op started. */
  var firstOpMs = 0L
  private var timedStartNs = 0L

  /** GC milliseconds when the timed phase started. */
  var gcAtStart = 0L

  def startTimed(): Unit = {
    gcAtStart = Harness.gcMillis()
    firstOpMs = System.currentTimeMillis()
    timedStartNs = System.nanoTime()
  }
  def elapsed: Double = (System.nanoTime() - timedStartNs) / 1e9

  def timeSetup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def strings(key: String): Seq[String] =
    Option(in.get(key)).toSeq.flatMap(_.elements().asScala.map(_.asText))
}

/** Entry point of the benchmark's JVM side.
  *
  *   Harness --registry <out.tsv>   list every registered query with its module
  *   Harness <input.json> <out.json> run one workload described by the input
  *
  * The input file is produced by run.py from the workload seed; this side
  * only replays it against graft's public API and records what it measured.
  */
object Harness {
  val mapper = new ObjectMapper()

  /** The query registry objects, in SparkEntry's order. */
  val modules: Seq[(String, Seq[graft.Q])] = Seq(
    "Pipelines" -> graft.pipelines.Pipelines.all,
    "Dedup" -> graft.ops.Dedup.all,
    "DedupCluster" -> graft.ops.DedupCluster.all,
    "Similarity" -> graft.ops.Similarity.all,
    "Spectral" -> graft.ops.Spectral.all,
    "TextOps" -> graft.ops.TextOps.all,
    "CorpusOps" -> graft.ops.CorpusOps.all,
    "Bpe" -> graft.ops.Bpe.all,
    "Multimodal" -> graft.ops.Multimodal.all,
    "Sampling" -> graft.ops.Sampling.all,
    "Skew" -> graft.ops.Skew.all,
    "Sources" -> graft.ops.Sources.all,
    "Analytics" -> graft.ops.Analytics.all,
    "TypedAgg" -> graft.ops.TypedAgg.all,
    "Warehouse" -> graft.ops.Warehouse.all,
    "EventOps" -> graft.ops.EventOps.all,
    "LineageQueries" -> graft.ops.LineageQueries.all,
    "Subqueries" -> graft.ops.Subqueries.all,
    "StreamingSessions" -> graft.streaming.StreamingSessions.all)

  def main(args: Array[String]): Unit =
    if (args(0) == "--registry") {
      val registered = graft.SparkEntry.queries.keySet
      val lines = for ((m, qs) <- modules; q <- qs if registered(q.name))
        yield s"$m\t${q.name}"
      Files.write(Paths.get(args(1)), lines.asJava, StandardCharsets.UTF_8)
    } else run(mapper.readTree(new File(args(0))), args(1))

  private def run(in: JsonNode, outPath: String): Unit = {
    val launchMs = in.get("launch_ms").asLong
    val cores = in.get("cores").asInt
    val work = in.get("work_dir").asText
    val trace = in.get("trace").asBoolean
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("graft.artifacts.dir", s"$work/artifacts")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = mapper.createObjectNode()
    val ctx = new Ctx(spark, in, out, new Tracer(trace, spark.sparkContext),
      in.get("seconds").asDouble, work)
    ctx.setup("session_s") = (System.currentTimeMillis() - launchMs) / 1e3
    val counters = if (trace) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    in.get("workload").asText match {
      case "lineage_build" => LineageBuild.run(ctx)
      case "query_suite" => QuerySuite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out.put("timed_gc_s", (gcMillis() - ctx.gcAtStart) / 1e3)
    out.put("setup_s", (ctx.firstOpMs - launchMs) / 1e3)
    val setup = out.putObject("setup")
    ctx.setup.foreach { case (k, v) => setup.put(k, v) }
    val ops = out.putArray("ops")
    ctx.ops.foreach { o =>
      val n = ops.addObject()
      n.put("kind", o.kind).put("name", o.name).put("s", o.seconds)
        .put("ok", o.ok).put("traced", o.traced)
      if (o.detail.nonEmpty) n.put("detail", o.detail)
    }
    val wf = out.putArray("warm_failures")
    ctx.warmFailures.foreach(wf.add)
    counters.foreach { c =>
      org.apache.spark.PerfbenchBusDrain(spark.sparkContext)
      writeTrace(ctx, c, s"$work/spans.json")
    }
    out.put("peak_rss_mb", peakRssMb())
    mapper.writeValue(new File(outPath), out)
    spark.stop()
  }

  /** Per-layer self times, engine counters per span name, and the raw spans
    * (written to their own file once, at the end). */
  private def writeTrace(ctx: Ctx, c: Counters, spansPath: String): Unit = {
    val t = ctx.out.putObject("trace")
    val self = t.putObject("self_s")
    ctx.tracer.selfSeconds.foreach { case (k, v) => self.put(k, v) }
    val ph = t.putObject("phases")
    c.phases.foreach { case (k, a) =>
      ph.putObject(k).put("jobs", a.jobs).put("stages", a.stages).put("tasks", a.tasks)
        .put("task_run_s", a.runMs / 1e3).put("task_cpu_s", a.cpuNs / 1e9)
        .put("shuffle_read_b", a.shuffleRead).put("shuffle_write_b", a.shuffleWrite)
        .put("spill_b", a.spill).put("peak_exec_mem_b", a.peakExecMem)
    }
    t.put("exec_wall_s", c.execWallSeconds)
    val spans = mapper.createArrayNode()
    ctx.tracer.spans.foreach { s =>
      spans.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("op", s.op).put("start_ns", s.start).put("end_ns", s.end)
    }
    mapper.writeValue(new File(spansPath), spans)
    t.put("spans", ctx.tracer.spans.size)
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** High-water resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}
