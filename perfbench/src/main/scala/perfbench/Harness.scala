package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.sources.Queues
import graft.streaming.CheckoutStream
import graft.streaming.CheckoutStream.InventoryTable

/** The benchmark's Spark side: one JVM that calls the checkout
  * pipeline's public functions on command. `run.py` generates every
  * input, drives this process over stdin and checks every output; this
  * process only runs the program and records what it saw.
  *
  * Commands, one per line (replies are stdout lines starting with `@`):
  *  - `seed <inventory.csv> <inventory dir>`: InventoryTable.initialize.
  *  - `start <id> <queue dir> <inventory dir> <out dir> <continuous|available>
  *     <maxFilesPerTrigger, 0 = Queues.fileJson> <trace off|now|later>`:
  *     with `later`, spans are recorded from the start and the
  *     listeners attach on `trace <id>`, while the query runs.
  *  - `trace <id>`: attach the listeners to a running `later` query.
  *  - `untrace <id>`: end the recorded window while the query runs on:
  *     jobs and executions submitted later are ignored, tasks of jobs
  *     already recorded still count.
  *  - `finish <id>`: drain, stop, write `<out dir>/query.json`; replies
  *     with the query's wall time and this process's CPU time at its end.
  *  - `cpu`: this process's CPU time, in ns.
  *  - `probe <input dir> <inventory.csv> <work dir> <out.json>`: layer probes.
  *  - `mix <tables dir> <out dir> <name,name,...>`: registered queries,
  *     one traced, timed pass that writes their results; the oracle SQL
  *     is written for the DuckDB compare.
  *  - `quit`.
  *
  * Tracing (listeners for jobs, stages, tasks and SQL executions, heap
  * polling, spans around each public call) is attached only to traced
  * queries, so untraced queries run the program as a user would.
  */
object Harness {

  private def reply(s: String): Unit = { println(s"@$s"); Console.out.flush() }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cpus = opts.getOrElse("cpus", "4")
    val work = opts("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    reply(f"ready ${(System.nanoTime() - t0) / 1e6}%.3f")
    val h = new Harness(spark)
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val cmd = line.trim.split("\\s+").toSeq
      try h.run(cmd)
      catch {
        case e: Throwable =>
          reply(s"error ${cmd.headOption.getOrElse("")} ${e.toString.replace('\n', ' ')}")
          e.printStackTrace()
      }
      line = in.readLine()
    }
    spark.stop()
  }

  val seedSchema: StructType = StructType(Seq(
    StructField("product_id", StringType), StructField("stock", IntegerType)))

  private def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6

  /** CPU time of this process, all threads, GC and JIT included. */
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** One query run: its handle, where it writes and what tracing saw. */
final class Run(
    val query: StreamingQuery,
    val inventory: InventoryTable,
    val outDir: String,
    val trace: Option[Trace],
    val startedNs: Long)

final class Harness(spark: SparkSession) {
  import Harness._

  private val runs = mutable.Map.empty[String, Run]

  def run(cmd: Seq[String]): Unit = cmd match {
    case Seq("seed", csv, invDir) =>
      val t = System.nanoTime()
      new InventoryTable(spark, invDir).initialize(readSeed(csv))
      reply(f"seeded ${ms(t)}%.3f")

    case Seq("start", id, queue, invDir, out, trigger, maxFiles, traced) =>
      val trace = if (traced == "off") None else Some(new Trace(spark))
      val span = trace.map(_.spans).getOrElse(Spans.off)
      val inventory = span("InventoryTable.open")(new InventoryTable(spark, invDir))
      val raw = span("Queues.fileJson") {
        if (maxFiles == "0") Queues.fileJson(spark, queue)
        else spark.readStream.option("maxFilesPerTrigger", maxFiles.toLong).text(queue)
      }
      val keyed = raw
        .withColumn("order_id", get_json_object(col("value"), "$.order_id"))
        .withColumn("event_time",
          to_timestamp(get_json_object(col("value"), "$.timestamp")))
      val deduped = span("CheckoutStream.dedupStream")(
        CheckoutStream.dedupStream(keyed, "event_time", "10 seconds"))
      val (valid, _) = span("CheckoutStream.parseOrderStream")(
        CheckoutStream.parseOrderStream(deduped, "value"))
      val writer = span("CheckoutStream.start")(
        CheckoutStream.start(valid, inventory, s"$out/verdicts", s"$out/checkpoint"))
      val triggered = trigger match {
        case "continuous" => writer.trigger(Trigger.ProcessingTime(0L))
        case "available" => writer.trigger(Trigger.AvailableNow())
      }
      if (traced == "now") trace.foreach(_.attach())
      val t = System.nanoTime()
      val epochMs = System.currentTimeMillis()
      val q = span("DataStreamWriter.start")(triggered.start())
      trace.foreach(_.openSpan("StreamingQuery.run"))
      runs(id) = new Run(q, inventory, out, trace, t)
      reply(s"started $id $epochMs")

    case Seq("finish", id) =>
      val r = runs.remove(id).get
      if (r.query.isActive) {
        r.query.processAllAvailable()
        r.query.stop()
      }
      r.query.awaitTermination()
      val wallMs = ms(r.startedNs)
      val cpuNs = processCpuNs
      r.query.exception.foreach(e => throw e)
      r.trace.foreach { t => t.closeSpan(); t.detach() }
      val span = r.trace.map(_.spans).getOrElse(Spans.off)
      val inv = span("InventoryTable.current")(
        r.inventory.current().collect().map(row => row.getString(0) -> row.getInt(1)))
      val progress = r.query.recentProgress.map(_.json)
      val json = new StringBuilder
      json ++= "{\"wall_ms\": " ++= wallMs.toString
      json ++= ",\n\"progress\": [" ++= progress.mkString(",\n") ++= "]"
      json ++= ",\n\"inventory\": {" ++= inv.map { case (p, s) => s"${Json.str(p)}: $s" }.mkString(", ") ++= "}"
      r.trace.foreach(t => json ++= ",\n\"trace\": " ++= t.json)
      json ++= "}\n"
      Files.write(s"${r.outDir}/query.json", json.toString)
      reply(f"finished $id $wallMs%.3f $cpuNs")

    case Seq("trace", id) =>
      runs(id).trace.get.attach()
      reply(s"tracing $id")

    case Seq("untrace", id) =>
      runs(id).trace.get.pause()
      reply(s"untraced $id")

    case Seq("cpu") =>
      reply(s"cpu $processCpuNs")

    case Seq("probe", input, csv, dir, out) =>
      Files.write(out, probe(input, csv, dir))
      reply("probed")

    case Seq("mix", dir, out, names) =>
      Files.write(s"$out/mix.json", mix(dir, out, names.split(",").toSeq))
      reply("mixed")
  }

  /** One traced pass: each query writes its result as parquet, for the
    * oracle compare, under its own job group and timed, with Bench's
    * per-query hygiene (cached data dropped) after it. A query that
    * throws is recorded and the pass goes on. */
  private def mix(dir: String, out: String, names: Seq[String]): String = {
    val registry = graft.SparkEntry.queries
    val trace = new Trace(spark)
    trace.attach()
    val errors = mutable.LinkedHashMap.empty[String, String]
    val secs = names.map { n =>
      spark.sparkContext.setJobGroup(n, n)
      val t = System.nanoTime()
      try registry(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
      catch { case scala.util.control.NonFatal(e) => errors(n) = e.toString }
      finally spark.sparkContext.clearJobGroup()
      val s = ms(t) / 1e3
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      s
    }
    trace.detach()
    val oracle = graft.SparkEntry.oracleSql
    Files.write(s"$out/oracle_sql.json",
      names.map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ",\n", "}\n"))
    s"""{"names": ${names.map(Json.str).mkString("[", ", ", "]")},
       |"s": ${Json.nums(secs)},
       |"errors": ${errors.map { case (n, e) => s"${Json.str(n)}: ${Json.str(e)}" }.mkString("{", ", ", "}")},
       |"trace": ${trace.json}}
       |""".stripMargin
  }

  private def readSeed(csv: String): DataFrame =
    spark.read.schema(seedSchema).option("header", "true").csv(csv)

  /** Times single layers on static frames over the same input files:
    * the parse step, admission alone and one whole inventory batch.
    * Each probe runs three times; all three times are reported. */
  private def probe(input: String, csv: String, dir: String): String = {
    val spans = new Spans
    def timed(name: String)(body: => Unit): Seq[Double] = (1 to 3).map { _ =>
      val t = System.nanoTime()
      spans(name)(body)
      ms(t) / 1e3
    }
    val raw = spark.read.text(input)
    val (valid, rejected) = CheckoutStream.parseOrderStream(raw, "value")
    val parseS = timed("CheckoutStream.parseOrderStream") {
      valid.write.format("noop").mode("overwrite").save()
      rejected.write.format("noop").mode("overwrite").save()
    }
    val nRejected = rejected.count()
    val lines = valid.dropDuplicates("order_id")
      .select(col("order_id"), explode(col("items")).as("item"))
      .select(col("order_id"), col("item.product_id").as("product_id"),
        col("item.quantity").cast("long").as("quantity"))
      .cache()
    val nLines = lines.count()
    val seed = readSeed(csv).cache()
    seed.count()
    val admitS = timed("CheckoutStream.admitOrders") {
      CheckoutStream.admitOrders(lines, seed).write.format("noop").mode("overwrite").save()
    }
    val table = new InventoryTable(spark, s"$dir/probe-inventory")
    table.initialize(seed)
    val applyS = timed("InventoryTable.applyBatch") {
      table.applyBatch(lines, 0L).write.format("noop").mode("overwrite").save()
    }
    lines.unpersist()
    seed.unpersist()
    s"""{"parse_s": ${Json.nums(parseS)}, "rejected": $nRejected, "lines": $nLines,
       |"admit_s": ${Json.nums(admitS)}, "apply_batch_s": ${Json.nums(applyS)},
       |"spans": ${spans.json}}
       |""".stripMargin
  }
}

/** Spans around the public calls the harness makes: name, start, end
  * (ns since the trace began) and the enclosing span. Kept in memory,
  * written once at the end. */
class Spans {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int)]
  private var open = List.empty[(Int, String, Long)]
  private var next = 0

  def begin(name: String): Unit = {
    open = (next, name, System.nanoTime() - origin) :: open
    next += 1
  }

  def end(): Unit = {
    val (id, name, start) = open.head
    open = open.tail
    done += ((id, name, start, System.nanoTime() - origin, open.headOption.map(_._1).getOrElse(-1)))
  }

  def apply[A](name: String)(body: => A): A = {
    begin(name)
    try body finally end()
  }

  def json: String = done.sortBy(_._1).map { case (id, name, s, e, parent) =>
    s"""{"id": $id, "name": ${Json.str(name)}, "start_ns": $s, "end_ns": $e, "parent": $parent}"""
  }.mkString("[", ",\n", "]")
}

object Spans {
  /** A recorder that records nothing, for untraced runs. */
  val off: Spans = new Spans {
    override def begin(name: String): Unit = ()
    override def end(): Unit = ()
  }
}

/** Everything a traced query records: Spark jobs with the micro-batch
  * id from their job description, their tasks' metrics, SQL executions
  * with their output path, heap use and GC time, and the spans. */
final class Trace(spark: SparkSession) extends SparkListener {
  val spans = new Spans
  private val batchRe = """batch = (\d+)""".r
  private val pathRe = """file:(/[^\s,\]]+)""".r

  private final class JobRec(val batch: Long, val exec: Long, val group: String, val timeMs: Long) {
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]
  private val execs = new ConcurrentHashMap[Long, (String, Long, Long)]
  private val events = new AtomicLong

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private var gcStart = 0L
  private var gcEnd = 0L
  @volatile private var heapPeak = 0L
  @volatile private var polling = false
  @volatile private var pausedAtMs = Long.MaxValue
  private var poller: Thread = _

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    gcStart = gcMs
    polling = true
    // heap in use right after each pool's last collection: the live
    // data, which (unlike plain heap use) does not track the heap size
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    poller = new Thread(() => {
      while (polling) {
        heapPeak = heapPeak.max(pools.map(_.getCollectionUsage.getUsed).sum)
        Thread.sleep(20)
      }
    })
    poller.setDaemon(true)
    poller.start()
  }

  /** Stops recording once the listener bus has gone quiet, so the
    * events of the finished query are all counted. */
  def detach(): Unit = {
    pause()
    var last = -1L
    while (events.get != last) { last = events.get; Thread.sleep(300) }
    spark.sparkContext.removeSparkListener(this)
  }

  /** Ends the recorded window; the listener stays until `detach`, so
    * that events of jobs submitted before still arrive. */
  def pause(): Unit = if (polling) {
    pausedAtMs = System.currentTimeMillis()
    gcEnd = gcMs
    polling = false
    poller.join()
  }

  def openSpan(name: String): Unit = spans.begin(name)
  def closeSpan(): Unit = spans.end()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    if (e.time < pausedAtMs) recordJob(e)
  }

  private def recordJob(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .flatMap(d => batchRe.findFirstMatchIn(d)).map(_.group(1).toLong).getOrElse(-1L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(batch, exec, group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    if (job.isDefined) stageTaskMs.computeIfAbsent(e.stageId, _ => java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.lang.Long]())).add(e.taskInfo.duration)
    for (j <- job; m <- Option(e.taskMetrics)) {
      j.tasks.incrementAndGet()
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.time < pausedAtMs =>
      events.incrementAndGet()
      // the write command's own arguments follow its last mention
      val plan = s.physicalPlanDescription
      val at = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
      val path = if (at < 0) "" else pathRe.findFirstMatchIn(plan.substring(at)).map(_.group(1)).getOrElse("")
      execs.put(s.executionId, (path, s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      Option(execs.get(s.executionId)).foreach { case (p, st, _) => execs.put(s.executionId, (p, st, s.time)) }
    case _ => ()
  }

  def json: String = {
    val jobList = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      val stages = stageJob.asScala.collect { case (s, jid) if jid == id => s }.toSeq.sorted
      val taskMs = stages.map(s => Option(stageTaskMs.get(s)).map(_.asScala.map(_.longValue).toSeq).getOrElse(Nil))
      s"""{"id": $id, "batch": ${j.batch}, "exec": ${j.exec}, "group": ${Json.str(j.group)}, "time_ms": ${j.timeMs}, "tasks": ${j.tasks.get}, """ +
        s""""cpu_ns": ${j.cpuNs.get}, "shuffle_write": ${j.shuffleWrite.get}, "spill": ${j.spill.get}, """ +
        s""""stage_task_ms": ${taskMs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")}}"""
    }
    val execList = execs.asScala.toSeq.sortBy(_._1).map { case (id, (p, s, e)) =>
      s"""{"id": $id, "path": ${Json.str(p)}, "start_ms": $s, "end_ms": $e}"""
    }
    s"""{"gc_ms": ${gcEnd - gcStart}, "heap_peak_bytes": $heapPeak,
       |"jobs": ${jobList.mkString("[", ",\n", "]")},
       |"execs": ${execList.mkString("[", ",\n", "]")},
       |"spans": ${spans.json}}""".stripMargin
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def nums(xs: Seq[Double]): String = xs.map(x => f"$x%.6f").mkString("[", ", ", "]")
}

object Files {
  def write(path: String, s: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
