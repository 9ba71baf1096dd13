package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `query_suite`: registered queries in the generated order. An untimed warm
  * pass builds each query and takes its row count and content hash (the
  * answer check); timed ops then run `fn(spark, sf).count()`, the action
  * graft.Bench times, and check the count against the warm pass. */
object QuerySuite {

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sf = ctx.in.get("data_dir").asText
    val names = ctx.strings("queries")
    val registry = graft.SparkEntry.queries
    val warm = ctx.out.putObject("warm")
    val warmRows = mutable.Map.empty[String, Long]
    ctx.timeSetup("warm_s") {
      names.foreach { n =>
        graft.PlanCache.setConsumer("warm:" + n)
        val node = warm.putObject(n)
        val t0 = System.nanoTime()
        try {
          // count first, as the timed op does, so its plan is warm too
          val df = registry(n)(spark, sf)
          df.count()
          val (rows, hash) = Hashing.content(df)
          node.put("rows", rows).put("hash", hash)
          warmRows(n) = rows
        } catch { case e: Throwable => node.put("error", Hashing.message(e)) }
        node.put("s", (System.nanoTime() - t0) / 1e9)
      }
    }
    ctx.timeSetup("rewarm_s")(graft.PlanCache.rewarm(spark))
    graft.PlanCache.drainSelfHeals()

    val tr = ctx.tracer
    ctx.startTimed()
    // whole passes until the run length is used, so every query weighs the
    // same in the op statistics; the traced run makes exactly two passes so
    // every query is traced in one of them and untraced in the other
    var k = 0
    def more = if (tr.enabled) k < 2 * names.size
      else k % names.size != 0 || k == 0 || ctx.elapsed < ctx.seconds
    while (more) {
      val (n, i, pass) = (names(k % names.size), k % names.size, k / names.size)
      val traced = tr.enabled && (i + pass) % 2 == 0
      graft.PlanCache.setConsumer(n)
      val t0 = System.nanoTime()
      val (ok, detail) =
        try {
          val rows = tr.op("query", traced) {
            val df = tr.span("query.build")(registry(n)(spark, sf))
            if (traced) tr.span("query.plan")(df.queryExecution.executedPlan)
            tr.span("query.exec")(df.count())
          }
          (warmRows.get(n).contains(rows), s"rows=$rows")
        } catch { case e: Throwable => (false, Hashing.message(e)) }
      ctx.ops += OpRecord("query", n, (System.nanoTime() - t0) / 1e9, ok, traced, detail)
      k += 1
    }
    graft.PlanCache.setConsumer("post_suite")
    val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    ctx.out.put("passes", k.toDouble / names.size)
      .put("selfheals", graft.PlanCache.drainSelfHeals().size)
      .put("cache_storage_b", storage)
  }
}

/** Order-independent content hash of a result: the sum of per-row xxhash64
  * values, with floating-point values rendered to 10 significant digits first
  * so the last-bit differences of a re-ordered sum do not change the hash. */
object Hashing {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c)
    case ArrayType(et, _) => transform(c, e => norm(e, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case u: UserDefinedType[_] => c.cast(StringType)
    case _ => c
  }

  def content(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
}
