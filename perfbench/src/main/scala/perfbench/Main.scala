package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.{Sessions, SparkEntry}
import graft.polarify.{Expr, Program}
import graft.polarify.parser.PyParser.PyFn

/** The benchmark's measuring half. It runs the items that `run.py`
  * generated for one workload, in whole passes, until `--seconds` of
  * passes have run, then re-runs every item once, untimed, to hand its
  * output to the independent checks. Everything it measures is written to
  * one JSON file; `run.py` turns that into metrics.
  *
  *   perfbench.Main catalog <out.json>
  *   perfbench.Main run <items.json> <results.json> <seconds> <trace 0|1> <cores>
  */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("catalog", out) => catalog(out)
    case Seq("run", items, out, seconds, trace, cores) =>
      run(json.readTree(new File(items)), out, seconds.toDouble, trace == "1",
        cores.toInt)
    case _ =>
      System.err.println("usage: perfbench.Main catalog <out> | run <items> <out> " +
        "<seconds> <trace> <cores>")
      sys.exit(2)
  }

  /** Every registered query name with its DuckDB oracle, for the draws. */
  private def catalog(out: String): Unit = {
    val root = json.createObjectNode()
    val names = root.putArray("queries")
    SparkEntry.queries.keys.toSeq.sorted.foreach(names.add)
    val oracles = root.putObject("oracle_sql")
    SparkEntry.oracleSql.foreach { case (k, v) => oracles.put(k, v) }
    json.writeValue(new File(out), root)
  }

  /** Callables visible to the parsed corpus sources. */
  private val functions: Map[String, PyFn] = Map(
    "call_target_identity" -> PyFn((a, _) => a.head, Some((a, _) => a.head)),
    "double" -> PyFn((a, _) => a.head * 2, Some((a, _) => s"(${a.head} * 2)")),
    "clip" -> PyFn(
      (a, kw) => F.greatest(kw("lo"), F.least(kw("hi"), a.head)),
      Some((a, kw) => s"greatest(${kw("lo")}, least(${kw("hi")}, ${a.head}))")))

  /** One unit of timed work and its untimed check. */
  private trait Item {
    def id: String
    /** Builds the DataFrame; everything before the action. */
    def construct(spark: SparkSession): DataFrame
    /** Materialises every row: a full noop write unless stated otherwise. */
    def action(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** Untimed, after the last pass: records what the check needs from the
      * DataFrame that pass built (`last`), building one if it has none.
      */
    def check(spark: SparkSession, last: Option[DataFrame], rec: ObjectNode): Unit
    /** Drops what the item keeps for its check. */
    def release(): Unit = ()
  }

  private final class PolarifyItem(val id: String, source: String, data: String,
      xOffset: Long, parityShape: Boolean) extends Item {
    private def x: Column = F.col("l_quantity").cast("long") - F.lit(xOffset)
    private def xSql = s"(CAST(l_quantity AS BIGINT) - $xOffset)"

    private def frame(spark: SparkSession, y: Column): DataFrame = {
      val li = spark.read.parquet(s"$data/lineitem.parquet")
      if (parityShape)
        li.select(x.as("x"), y.cast("long").as("r")).distinct().orderBy("x")
      else li.select(x.as("x"), y.as("y"))
    }

    def construct(spark: SparkSession): DataFrame = {
      val prog = Trace.span("parse")(Program.fromPython(source, functions))
      Trace.span("compile")(prog.expr)
      val y = Trace.span("columngen")(prog.column(Map("x" -> x)))
      Trace.span("analyze")(frame(spark, y))
    }

    /** The pf_ shape's result is its distinct (x, r) pairs, at most one row
      * per x: collecting them evaluates every input row, as a noop write
      * would, and keeps the output for the check.
      */
    @volatile private var collected: Array[Row] = null

    override def action(df: DataFrame): Unit =
      if (parityShape) collected = df.collect() else super.action(df)

    override def release(): Unit = collected = null

    def check(spark: SparkSession, last: Option[DataFrame], rec: ObjectNode): Unit = {
      val prog = Program.fromPython(source, functions)
      val (tree, dag) = ExprStats.nodes(prog.expr)
      rec.put("tree_nodes", tree).put("dag_nodes", dag)
        .put("source_chars", source.length)
      val t0 = System.nanoTime()
      val sql = prog.sql(Map("x" -> xSql))
      rec.put("sqlgen_s", (System.nanoTime() - t0) / 1e9).put("sql_chars", sql.length)
      val df = last.getOrElse(frame(spark, prog.column(Map("x" -> x))))
      rec.put("plan_nodes", PlanStats.nodes(df))
      val rows = rec.putArray("rows")
      val out = if (parityShape && collected != null) collected else df.distinct().collect()
      out.foreach(r => rows.addArray().add(r.getLong(0)).add(r.getLong(1)))
    }
  }

  private final class QueryItem(val id: String, data: String, outDir: String)
      extends Item {
    private val fn = SparkEntry.queries.getOrElse(id,
      throw new IllegalArgumentException(s"no query named $id"))

    def construct(spark: SparkSession): DataFrame =
      Trace.span("construct")(fn(spark, data))

    def check(spark: SparkSession, last: Option[DataFrame], rec: ObjectNode): Unit = {
      val df = last.getOrElse(fn(spark, data))
      rec.put("plan_nodes", PlanStats.nodes(df))
      val out = s"$outDir/$id"
      df.coalesce(1).write.mode("overwrite").parquet(out)
      rec.put("parquet", out)
    }
  }

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def run(spec: JsonNode, out: String, seconds: Double, trace: Boolean,
      cores: Int): Unit = {
    val data = spec.get("data").asText
    val work = spec.get("work").asText
    val minPasses = spec.path("min_passes").asInt(2)
    val items: Seq[Item] = spec.get("items").elements().asScala.toSeq.map { it =>
      val id = it.get("id").asText
      if (it.has("source"))
        new PolarifyItem(id, it.get("source").asText, data, it.path("x_offset").asLong(0L),
          parityShape = it.path("shape").asText == "pf")
      else new QueryItem(id, data, s"$work/out")
    }

    val spark = Sessions.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up job through scan -> shuffle -> aggregate, as graft.Bench
    spark.read.parquet(s"$data/nation.parquet")
      .groupBy(F.pmod(F.col("n_nationkey"), F.lit(4))).count().count()

    val listeners = if (trace) Some(new Listeners(spark)) else None
    listeners.foreach(_.install())
    if (trace) Trace.enable()

    val res = json.createObjectNode()
    res.put("cores", cores)
      .put("heap_mb", Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    val passes = res.putArray("passes")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME

    val firstUs = Trace.nowUs
    res.put("first_item_us", firstUs)
    val lastFrame = scala.collection.mutable.Map.empty[String, DataFrame]
    var p = 0
    while (p < minPasses || (Trace.nowUs - firstUs) / 1e6 < seconds) {
      // rotate the start item so no item always runs first or last
      val order = items.drop(p % items.size) ++ items.take(p % items.size)
      val pass = passes.addObject().put("pass", p)
      val recs = pass.putArray("items")
      val passStart = Trace.nowUs
      Trace.span("pass") {
        order.foreach { it =>
          val rec = recs.addObject().put("id", it.id)
          spark.sparkContext.setJobGroup(it.id, it.id, interruptOnCancel = true)
          Trace.item = it.id
          listeners.foreach { l => l.current = new Counters; l.constructing = true }
          val c0 = compiles.getCount
          val t0 = Trace.nowUs
          var t1 = t0
          try Trace.span("item") {
            val df = it.construct(spark)
            lastFrame(it.id) = df
            listeners.foreach { l => l.drain(); l.constructing = false }
            t1 = Trace.nowUs
            Trace.span("action")(it.action(df))
          } catch {
            case e: Throwable => rec.put("error", describe(e))
          } finally spark.sparkContext.clearJobGroup()
          val t2 = Trace.nowUs
          rec.put("construct_s", (t1 - t0) / 1e6).put("action_s", (t2 - t1) / 1e6)
            .put("total_s", (t2 - t0) / 1e6)
          System.err.println(f"[perfbench] pass $p ${it.id}%-36s ${(t2 - t0) / 1e6}%8.3f s")
          listeners.foreach { l =>
            l.drain()
            counters(rec.putObject("counters"), l.current, compiles.getCount - c0)
          }
        }
      }
      pass.put("wall_s", (Trace.nowUs - passStart) / 1e6)
      p += 1
    }
    res.put("peak_rss_mb", vmHwmMb)
    res.put("codegen_max_source_bytes", CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMax)
    res.put("codegen_max_method_bytes",
      CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax)

    Trace.on = false
    val checks = res.putObject("checks")
    items.foreach { it =>
      val rec = checks.putObject(it.id)
      try it.check(spark, lastFrame.get(it.id), rec)
      catch { case e: Throwable => rec.put("error", describe(e)) }
    }
    // What the session retains after the passes (caches, substrates,
    // plans), read once the harness has dropped the frames and outputs it
    // kept for the checks. The second collection frees what Spark's
    // ContextCleaner released after the first one enqueued the unreachable
    // RDDs and broadcasts.
    lastFrame.clear()
    items.foreach(_.release())
    System.gc()
    Thread.sleep(500)
    System.gc()
    res.put("live_heap_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
    if (trace) {
      val arr = res.putArray("spans")
      Trace.spans.foreach { s =>
        arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("item", s.item).put("start_us", s.startUs).put("end_us", s.endUs)
      }
    }
    json.writeValue(new File(out), res)
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".linesIterator.take(3).mkString(" | ")

  private def counters(o: ObjectNode, c: Counters, compiles: Long): Unit = {
    o.put("jobs", c.jobs.get).put("stages", c.stages.get).put("tasks", c.tasks.get)
      .put("construct_jobs", c.constructJobs.get)
      .put("task_run_s", c.taskRunMs.get / 1e3).put("task_cpu_s", c.taskCpuNs.get / 1e9)
      .put("gc_s", c.gcMs.get / 1e3)
      .put("shuffle_read_bytes", c.shuffleRead.get)
      .put("shuffle_write_bytes", c.shuffleWrite.get)
      .put("spill_bytes", c.spill.get)
      .put("stream_queries", c.streamQueries.get).put("triggers", c.triggers.get)
      .put("state_rows", c.stateRows.get)
      .put("codegen_compiles", compiles).put("codegen_ms", c.codegenMs.sum)
      .put("fallbacks", c.fallbacks.get)
    val iv = o.putArray("intervals")
    c.intervals.forEach { case (n, s, e) => iv.addArray().add(n).add(s).add(e) }
    val s = o.putObject("stream_ms")
    c.streamMs.asScala.foreach { case (k, v) => s.put(k, v.get) }
  }
}

/** Node counts of the compiler's resolved expression. */
object ExprStats {
  /** (tree nodes, distinct subtrees). Shared subtrees are visited once per
    * JVM object, so an exponentially expanded tree is counted in time
    * linear in its DAG.
    */
  def nodes(root: Expr): (Long, Long) = {
    val treeSize = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
    val shapeId = new java.util.IdentityHashMap[AnyRef, Integer]()
    val shapes = scala.collection.mutable.HashMap.empty[Any, Int]

    // every Expr is a case class
    def fields(e: Expr): Seq[Any] = e.asInstanceOf[Product].productIterator.toSeq
    def children(e: Expr): Seq[Expr] = fields(e).flatMap(flat)
    def flat(v: Any): Seq[Expr] = v match {
      case e: Expr       => Seq(e)
      case s: Iterable[_] => s.toSeq.flatMap(flat)
      case p: Product if !p.isInstanceOf[Expr] => p.productIterator.toSeq.flatMap(flat)
      case _             => Nil
    }
    def key(v: Any): Any = v match {
      case e: Expr        => id(e)
      case s: Iterable[_] => s.toSeq.map(key)
      case f: Function2[_, _, _] => f.getClass.getName
      case p: Product if p.productArity > 0 =>
        (p.productPrefix, p.productIterator.toSeq.map(key))
      case other          => other
    }
    def id(e: Expr): Int = {
      val known = shapeId.get(e)
      if (known != null) known
      else {
        val k = (e.asInstanceOf[Product].productPrefix, fields(e).map(key))
        val i = shapes.getOrElseUpdate(k, shapes.size)
        shapeId.put(e, i)
        i
      }
    }
    def tree(e: Expr): Long = {
      val known = treeSize.get(e)
      if (known != null) known
      else {
        val n = 1L + children(e).map(tree).sum
        treeSize.put(e, n)
        n
      }
    }
    val t = tree(root)
    id(root)
    (t, shapes.size.toLong)
  }
}

/** Expression nodes in an optimised logical plan, subqueries included. */
object PlanStats {
  def nodes(df: DataFrame): Long = {
    var n = 0L
    df.queryExecution.optimizedPlan.foreachWithSubqueries { op =>
      op.expressions.foreach(_.foreach(_ => n += 1))
    }
    n
  }
}
