package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.extract.ReferenceJson
import graft.lineage.Lineage
import graft.model._
import graft.pipelines.Repo
import graft.qa.QA
import graft.render.Mermaid

/** `lineage_build`: rebuild every lineage artifact of a synthetic repo made
  * of K replicas of the 12-script `pipelines.Repo` DAG. Each replica reads
  * its own copy of the base tables and writes its own assets, and its
  * scripts and asset paths carry a replica prefix, so stitching yields K × 11
  * links and no call can be served by another replica's work. One build runs
  * `Repo.lineage` per replica, then edges → stitch → closures → corpus →
  * embeddings → HTML, and writes what `extract.LineageDump` writes. */
object LineageBuild {

  /** What one build produced, for the answer checks. */
  final case class Built(edges: Seq[Edge], links: Long, docs: Long, htmlBytes: Long,
      closures: Seq[(String, Set[(String, Int)])])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = Paths.get(ctx.in.get("data_dir").asText)
    val dirs = (0 until ctx.in.get("replicas").asInt).map(i =>
      Paths.get(ctx.workDir, "replicas", s"r$i"))
    val starts = ctx.strings("starts")
    val outDir = s"${ctx.workDir}/lineage_out"
    val tr = ctx.tracer

    ctx.timeSetup("copy_s")(dirs.foreach(copyTables(base, _)))
    ctx.timeSetup("materialize_s")(dirs.foreach(d => Repo.materialize(spark, d.toString)))
    val builds = ctx.out.putArray("builds")

    def buildOnce(timed: Boolean, traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      val res =
        try Right(tr.op("build", traced)(build(spark, tr, dirs.map(_.toString), starts, outDir)))
        catch { case e: Throwable => Left(Hashing.message(e)) }
      val s = (System.nanoTime() - t0) / 1e9
      val (ok, detail) = res match {
        case Left(err) => (false, err)
        case Right(b) =>
          val bad = b.closures.collect {
            case (st, got) if got != closure(b.edges, st) => st
          }
          builds.addObject().put("edges", b.edges.size).put("links", b.links)
            .put("docs", b.docs).put("html_bytes", b.htmlBytes)
            .put("closures", b.closures.size).put("closure_mismatch", bad.mkString(","))
          (bad.isEmpty, s"edges=${b.edges.size}")
      }
      if (timed) ctx.ops += OpRecord("build", s"build${ctx.ops.size}", s, ok, traced, detail)
      else if (!ok) ctx.warmFailures += s"warm build: $detail"
    }

    ctx.timeSetup("warm_s")(buildOnce(timed = false, traced = false))
    ctx.startTimed()
    var i = 0
    while (i == 0 || ctx.elapsed < ctx.seconds || (tr.enabled && i < 2)) {
      buildOnce(timed = true, traced = tr.enabled && i % 2 == 0)
      i += 1
    }
  }

  private def copyTables(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { p =>
      Files.copy(p, to.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Give one replica's lineage its own script names and asset paths. */
  private def tag(i: Int, sl: ScriptLineage): ScriptLineage = {
    def s(x: String) = s"r${i}_$x"
    sl.copy(script = s(sl.script),
      dfs = sl.dfs.map(d => d.copy(script = s(d.script))),
      assets = sl.assets.map(a => a.copy(script = s(a.script), path = s"r$i/${a.path}")),
      joins = sl.joins.map(j => j.copy(script = s(j.script))),
      aggs = sl.aggs.map(a => a.copy(script = s(a.script))))
  }

  private def build(spark: SparkSession, tr: Tracer, dirs: Seq[String],
      starts: Seq[String], outDir: String): Built = {
    import spark.implicits._
    val ls = tr.span("extract") {
      dirs.zipWithIndex.flatMap { case (d, i) => Repo.lineage(spark, d).map(tag(i, _)) }
    }
    val edges = tr.span("lineage.edges") {
      val e = Lineage.edges(spark, ls).cache(); e.count(); e }
    val links = tr.span("lineage.stitch") {
      val l = Lineage.stitch(spark, ls).cache(); l.count(); l }
    try {
      val closures = tr.span("lineage.closure") {
        val graph = Lineage.columnGraph(edges)
        starts.map { st =>
          st -> Lineage.downstreamClosure(spark, graph, st).collect()
            .map(r => (r.getString(0), r.getInt(1))).toSet
        }
      }
      val (docs, nDocs) = tr.span("qa.corpus") {
        val d = QA.corpus(spark, ls, edges).cache(); (d, d.count()) }
      val index = tr.span("qa.embed") {
        val v = QA.embed(docs.toDF(), "text").cache(); v.count(); v }
      try {
        val edgeRows = edges.collect().toSeq
        val linkRows = links.collect().toSeq
        val html = tr.span("render.html")(Mermaid.html(ls, linkRows, edgeRows))
        tr.span("artifacts.write") {
          spark.createDataset(ls).coalesce(1).write.mode("overwrite").json(s"$outDir/script_lineage")
          edges.coalesce(1).write.mode("overwrite").json(s"$outDir/edges")
          links.coalesce(1).write.mode("overwrite").json(s"$outDir/repo_graph")
          docs.coalesce(1).write.mode("overwrite").json(s"$outDir/corpus")
          index.coalesce(1).write.mode("overwrite").parquet(s"$outDir/index")
          Files.createDirectories(Paths.get(outDir, "reference_schema"))
          Files.writeString(Paths.get(outDir, "lineage_repo.html"), html)
          ls.foreach(sl => Files.writeString(
            Paths.get(outDir, "reference_schema", s"${sl.script}.json"), ReferenceJson.render(sl)))
        }
        Built(edgeRows, linkRows.size, nDocs, html.getBytes("UTF-8").length.toLong,
          closures)
      } finally { docs.unpersist(); index.unpersist() }
    } finally { edges.unpersist(); links.unpersist() }
  }

  /** The benchmark's own closure over the emitted edges: level-synchronous
    * BFS on distinct (srcCol → targetCol) pairs without self-loops, min depth
    * per column, at most 20 levels and 2000 columns (complete levels, then
    * the overflowing level in name order) — the documented contract of
    * `Lineage.downstreamClosure`. */
  def closure(edges: Seq[Edge], start: String, limit: Int = 2000,
      maxDepth: Int = 20): Set[(String, Int)] = {
    val adj = edges.filter(e => e.srcCol != e.targetCol)
      .groupBy(_.srcCol).map { case (k, es) => k -> es.map(_.targetCol).distinct }
    val seen = mutable.Set(start)
    val out = mutable.ArrayBuffer.empty[(String, Int)]
    var frontier = Seq(start)
    var depth = 0
    // the start column counts against the cap, as in graft's BFS
    while (frontier.nonEmpty && depth < maxDepth && out.size + 1 < limit) {
      depth += 1
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(seen).sorted
      val take = next.take(limit - 1 - out.size)
      out ++= take.map(_ -> depth)
      seen ++= take
      frontier = if (take.size == next.size) next else Nil
    }
    out.toSet
  }
}
