package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.TimestampNTZType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.functions.Checkpoints
import graft.sources.{GraftClient, SoqlParams}

/** Runs one benchmark workload against the library's public entry points
  * (`GraftSession.local`, `GraftClient`, `SparkEntry.queries`,
  * `Checkpoints.sweep`) and writes every raw measurement as JSON; run.py
  * turns them into metrics.
  *
  * The plan file (written by run.py from the workload seed) holds every
  * input: the request stream and delta files for `soql_client`, the query
  * order of each pass for the batch workloads. Usage:
  *
  *   Driver <plan.json> <result.json>
  *
  * Times are epoch microseconds so they line up with the Spark listener's
  * epoch-millisecond job, stage and planning-phase times. With tracing
  * off only op start/end are recorded; with tracing on, every call into
  * the library from here is a span, and a SparkListener plus a
  * QueryExecutionListener record jobs, stages and planning phases.
  */
object Driver {
  private val mapper = new ObjectMapper()
  private type Obj = java.util.LinkedHashMap[String, Any]

  private def obj(kv: (String, Any)*): Obj = {
    val m = new Obj()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Spans recorded by the benchmark around its calls into the library. */
  final class Tracer(val on: Boolean) {
    val spans = new java.util.ArrayList[Obj]()
    private var nextId = 0
    private val stack = mutable.Stack[Int]()

    def span[A](name: String, layer: String)(body: => A): A = {
      if (!on) return body
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = nowUs()
      try body
      finally {
        stack.pop()
        spans.add(obj("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "t0" -> t0, "t1" -> nowUs()))
      }
    }
  }

  /** Spark-side records: jobs, stages and planning phases. */
  final class SparkTrace extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentLinkedQueue[Obj]()
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Obj]()
    val stages = new ConcurrentLinkedQueue[Obj]()
    val phases = new ConcurrentLinkedQueue[Obj]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, obj("job" -> e.jobId, "t0" -> e.time * 1000L,
        "stages" -> e.stageIds.asJava))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { j =>
        j.put("t1", e.time * 1000L)
        jobs.add(j)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (s <- i.submissionTime; c <- i.completionTime if m != null)
        stages.add(obj("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "t0" -> s * 1000L, "t1" -> c * 1000L, "tasks" -> i.numTasks,
          "task_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(obj("phase" -> name, "t0" -> p.startTimeMs * 1000L,
          "t1" -> p.endTimeMs * 1000L))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** One timed operation: a client request or one query execution. */
  final class Op(val kind: String, val name: String) {
    var t0 = 0L
    var t1 = 0L
    var ok = true
    var error: String = ""
    val extra = new Obj()
    def toJson: Obj = {
      val m = obj("kind" -> kind, "name" -> name, "t0" -> t0, "t1" -> t1,
        "ok" -> ok, "error" -> error)
      m.putAll(extra)
      m
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val resultPath = args(1)
    val w = new Workload(plan)
    val result =
      try w.run()
      finally w.stop()
    result.put("spark", w.sparkRecords)
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(resultPath), result)
  }

  private def str(n: JsonNode, k: String): String = n.get(k).asText()
  private def strs(n: JsonNode, k: String): Seq[String] =
    Option(n.get(k)).map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Nil)
  private def optStr(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText())
  private def optInt(n: JsonNode, k: String): Option[Int] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asInt())

  def soqlParams(p: JsonNode): SoqlParams = SoqlParams(
    select = strs(p, "select"), where = optStr(p, "where"),
    group = strs(p, "group"), order = strs(p, "order"),
    limit = optInt(p, "limit"),
    offset = optInt(p, "offset"), q = optStr(p, "q"))

  /** Rows as comparable strings; doubles at 6 decimals so a check never
    * trips on the last bit of a sum two plans add in different orders. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: Double => f"$d%.6f"
    case f: Float => f"${f.toDouble}%.6f"
    case null => "null"
    case v => v.toString
  }.mkString("|"))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  final class Workload(val plan: JsonNode) {
    val workload: String = str(plan, "workload")
    val cores: Int = plan.get("cores").asInt()
    val seconds: Double = plan.get("seconds").asDouble()
    val work: Path = Paths.get(str(plan, "work"))
    val benchDir: String = str(plan, "bench_dir")
    val tracer = new Tracer(plan.get("trace").asBoolean())
    val sparkTrace = new SparkTrace
    val ops = mutable.ArrayBuffer[Op]()
    val setupPhases = new Obj()
    val sweeps = mutable.ArrayBuffer[Obj]()
    var setupEndUs = 0L
    private var gcAtSetupEnd = 0L
    private var gcAtTimedEnd = 0L
    var peakHeapMb = 0.0
    private var spark: SparkSession = _

    def phase[A](name: String)(body: => A): A = {
      val t0 = nowUs()
      try body
      finally setupPhases.put(name, (nowUs() - t0) / 1e6)
    }

    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    def vmHwmKb: Long = {
      val lines = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      lines.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    }

    def run(): Obj = {
      phase("session_s") {
        spark = GraftSession.local(cores)
        spark.sparkContext.setLogLevel("WARN")
        spark.conf.set("graft.textcache.dir",
          work.resolve("textcache").toString)
        if (tracer.on) {
          spark.sparkContext.addSparkListener(sparkTrace)
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
            .listenerManager.register(sparkTrace)
        }
      }
      val body = workload match {
        case "soql_client" => new SoqlClient(this).run()
        case "heavy_batch" | "iterative" => new Batch(this).run()
        case other => sys.error(s"unknown workload $other")
      }
      obj("workload" -> workload, "trace" -> tracer.on,
        "setup_end_us" -> setupEndUs,
        "setup_phases" -> setupPhases, "ops" -> ops.map(_.toJson).asJava,
        "sweeps" -> sweeps.asJava,
        "setup_errors" -> setupErrors.asJava,
        "gc_ms_timed" -> (gcAtTimedEnd - gcAtSetupEnd),
        "peak_heap_mb" -> peakHeapMb,
        "vm_hwm_kb" -> vmHwmKb, "workload_detail" -> body)
    }

    /** Spark records are complete only once the listener bus has drained,
      * which `stop()` guarantees; they are added to the result after it. */
    def stop(): Unit = if (spark != null) spark.stop()

    def sparkRecords: Obj = obj(
      "spans" -> tracer.spans,
      "jobs" -> sparkTrace.jobs.asScala.toSeq.asJava,
      "stages" -> sparkTrace.stages.asScala.toSeq.asJava,
      "phases" -> sparkTrace.phases.asScala.toSeq.asJava)

    def session: SparkSession = spark

    def markSetupEnd(): Unit = {
      sweeps.clear()
      gcAtSetupEnd = gcMs
      setupEndUs = nowUs()
    }

    def markTimedEnd(): Unit = gcAtTimedEnd = gcMs

    /** Times `body` as one op; a throw marks the op failed, never the run. */
    def timed(op: Op)(body: => Unit): Op = {
      op.t0 = nowUs()
      try tracer.span(s"op.${op.kind}", "op")(body)
      catch {
        case e: Throwable =>
          op.ok = false
          op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      op.t1 = nowUs()
      ops += op
      op
    }

    /** Between-op hygiene, outside the op's wall: record what the op left
      * pinned, sweep it, sample the heap. */
    def sweep(): Unit = {
      val pinned = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val t0 = nowUs()
      tracer.span("functions.sweep", "functions")(Checkpoints.sweep(spark))
      val t1 = nowUs()
      // live heap: what the heap pools held after their latest collection
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
        1048576.0
      peakHeapMb = math.max(peakHeapMb, heap)
      sweeps += obj("t0" -> t0, "t1" -> t1, "pinned_bytes" -> pinned,
        "textcache_bytes" -> dirBytes(work.resolve("textcache")))
    }

    /** Setup steps that threw; any makes the run incorrect. */
    val setupErrors = mutable.ArrayBuffer[String]()
    def setupStep(what: String)(body: => Unit): Unit =
      try body
      catch {
        case e: Throwable =>
          setupErrors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(300)
      }

    /** The plan fixes the timed work (whole blocks or passes, sized by
      * run.py for `seconds`); a program far slower than that size assumes
      * is cut off after three times `seconds` of op time. */
    def withinCap: Boolean =
      ops.iterator.map(o => o.t1 - o.t0).sum < 3 * seconds * 1e6
  }

  /** The reference gem's call surface, one closed-loop client. */
  final class SoqlClient(w: Workload) {
    private val spark = w.session
    private val portal = w.work.resolve("portal")
    private val cache = w.work.resolve("cache").resolve("orders").toString
    private val client = new GraftClient(spark, portal.toString)

    def run(): Obj = {
      val plan = w.plan
      // the portal is a copy of the fixtures the client reads and the
      // writes append to; orders is a directory so deltas land as files
      w.phase("portal_copy_s") {
        Files.createDirectories(portal)
        new File(w.benchDir).listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            val dst = if (f.getName == "orders.parquet")
              portal.resolve("orders.parquet").resolve("part-base.parquet")
            else portal.resolve(f.getName)
            Files.createDirectories(dst.getParent)
            Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          }
      }
      w.phase("prime_s") {
        // cold refresh: the full fetch that creates the parquet cache
        client.refreshCache("orders", cache, Seq("o_orderkey"), "o_orderdate")
        val prime = plan.get("prime").elements().asScala
        prime.flatMap(_.elements().asScala).foreach { r =>
          w.setupStep(str(r, "template")) {
            if (str(r, "kind") == "write") {
              append(r)
              refresh()
            } else read(r)
          }
          w.sweep()
        }
      }
      w.markSetupEnd()
      val blocks = plan.get("blocks").elements()
      while (blocks.hasNext && w.withinCap) {
        blocks.next().elements().asScala.foreach { r =>
          if (str(r, "kind") == "write") write(r) else {
            var rows: Seq[Row] = Nil
            val op = w.timed(new Op(str(r, "kind"), str(r, "template"))) {
              rows = read(r)
            }
            if (op.ok && r.get("check").asBoolean()) checkRead(op, r, rows)
          }
          w.sweep()
        }
      }
      w.markTimedEnd()
      obj()
    }

    /** Runs one read request; returns the rows the client delivered. */
    def read(r: JsonNode): Seq[Row] = {
      val t = w.tracer
      str(r, "kind") match {
        case "list" =>
          val df = t.span("sources.list", "sources")(client.list)
          t.span("action.collect", "action")(df.collect().toSeq)
        case "dataFor" =>
          val df = t.span("sources.dataFor", "sources")(
            client.dataFor(str(r, "table"), soqlParams(r.get("params"))))
          t.span("action.collect", "action")(df.collect().toSeq)
        case "fetchPages" =>
          val pages = t.span("sources.fetchPages", "sources")(
            client.fetchPages(str(r, "table"), soqlParams(r.get("params")),
              r.get("page_size").asInt()))
          val out = mutable.ArrayBuffer[Row]()
          while (pages.hasNext) {
            val page =
              t.span("sources.fetchPages.next", "sources")(pages.next())
            out ++= t.span("action.collect", "action")(page.collect())
          }
          out.toSeq
      }
    }

    /** Independent evaluation: plain Spark SQL over the raw parquet. */
    private def rawView(table: String): Unit = {
      val df = spark.read.parquet(portal.resolve(s"$table.parquet").toString)
      df.schema.fields.filter(_.dataType == TimestampNTZType)
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, d.col(f.name).cast("timestamp")))
        .createOrReplaceTempView(s"raw_$table")
    }

    private def checkRead(op: Op, r: JsonNode, got: Seq[Row]): Unit =
      try {
        val (have, want) =
          if (str(r, "kind") == "list")
            (got.map(_.getAs[String]("table")), strs(r, "expect_tables"))
          else {
            rawView(str(r, "table"))
            (canon(got), canon(spark.sql(str(r, "sql")).collect().toSeq))
          }
        if (have != want) {
          op.ok = false
          op.error = "output differs from the SQL evaluation: " +
            s"${have.size} rows vs ${want.size}"
        }
      } catch {
        case e: Throwable =>
          op.ok = false
          op.error = s"check failed to run: ${e.getMessage}".take(300)
      }

    /** The portal side of a write: the delta lands as a new file. */
    private def append(r: JsonNode): Unit = {
      val src = Paths.get(str(r, "delta"))
      Files.copy(src, portal.resolve("orders.parquet").resolve(src.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
    }

    private def refresh(): DataFrame =
      w.tracer.span("sources.refreshCache", "sources")(
        client.refreshCache("orders", cache, Seq("o_orderkey"), "o_orderdate"))

    /** A portal update (untimed) followed by a timed `refreshCache`. */
    def write(r: JsonNode): Unit = {
      append(r)
      val op = w.timed(new Op("write", "refreshCache"))(refresh())
      op.extra.put("delta_rows", r.get("rows").asInt())
      op.extra.put("cache_bytes", dirBytes(Paths.get(cache)))
      if (op.ok) checkWrite(op)
    }

    /** The cache must equal newest-wins over every portal version. */
    private def checkWrite(op: Op): Unit =
      try {
        rawView("orders")
        val expect = spark.sql(
          """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |       o_orderdate, o_orderpriority
            |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
            |                 ORDER BY o_orderdate DESC) AS rn
            |      FROM raw_orders) WHERE rn = 1""".stripMargin)
        val got = spark.read.parquet(cache).select(expect.columns.map(
          c => org.apache.spark.sql.functions.col(c)).toSeq: _*)
        val missing = expect.exceptAll(got).count()
        val extra = got.exceptAll(expect).count()
        if (missing + extra != 0) {
          op.ok = false
          op.error = s"cache differs from newest-wins upsert: " +
            s"$missing missing, $extra unexpected rows"
        }
      } catch {
        case e: Throwable =>
          op.ok = false
          op.error = s"check failed to run: ${e.getMessage}".take(300)
      }
  }

  /** Declared queries, pass after pass, in the seeded order. */
  final class Batch(w: Workload) {
    private val spark = w.session
    private val out = w.work.resolve("outputs")

    def run(): Obj = {
      val plan = w.plan
      val queries = strs(plan, "queries")
      val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
      // priming passes at the benchmark scale. The first writes each
      // query's output: run.py compares it with the DuckDB oracle, and
      // every timed execution must reproduce its row count.
      val primed = mutable.LinkedHashMap[String, Long]()
      w.phase("prime_s") {
        plan.get("prime").elements().asScala.foreach { pass =>
          pass.elements().asScala.map(_.asText()).foreach { q =>
            w.setupStep(q) {
              if (primed.contains(q)) fns(q)(spark, w.benchDir).count()
              else {
                primed(q) = -1L
                val path = out.resolve(q).toString
                fns(q)(spark, w.benchDir).coalesce(1).write.mode("overwrite")
                  .parquet(path)
                primed(q) = spark.read.parquet(path).count()
              }
            }
            w.sweep()
          }
        }
      }
      w.markSetupEnd()
      val passes = plan.get("passes").elements()
      var pass = 0
      while (passes.hasNext && w.withinCap) {
        passes.next().elements().asScala.map(_.asText()).foreach { q =>
          var n = -1L
          val op = w.timed(new Op("query", q)) {
            val df = w.tracer.span(s"operators.build", "operators")(
              fns(q)(spark, w.benchDir))
            n = w.tracer.span("action.count", "action")(df.count())
          }
          op.extra.put("pass", pass)
          op.extra.put("rows", n)
          if (op.ok && n != primed(q)) {
            op.ok = false
            op.error = s"row count $n differs from the checked output's " +
              s"${primed(q)}"
          }
          w.sweep()
        }
        pass += 1
      }
      w.markTimedEnd()
      val oracle = SparkEntry.oracleSql
      obj("outputs" -> out.toString,
        "primed_rows" -> primed.map { case (k, v) => k -> v }.toMap.asJava,
        "oracle_sql" -> queries.flatMap(q => oracle.get(q).map(q -> _))
          .toMap.asJava)
    }
  }
}
