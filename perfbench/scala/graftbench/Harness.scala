package graftbench

import java.io.{BufferedReader, ByteArrayOutputStream, File, PrintStream, StringReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}
import graft.repl.SqlRepl
import graft.sinks.{CsvExport, ParquetSink}

/** One benchmark run in one JVM: set up, run untimed warm-up passes,
  * then whole timed passes until `--seconds` have gone by, and write the
  * raw figures to `<out>/result.json` (the Python side turns them into
  * metrics and checks the outputs).
  *
  *  - `repl`: one client drives `SqlRepl.runCli` (workbook load with the
  *    first-column uniqueness check, then the SQL script through
  *    `runLine`) from a scripted reader that times every statement.
  *  - `curation`: one client runs each operator's `SparkEntry.queries`
  *    plan and writes it with `ParquetSink.write`.
  *  - `mixed`: both clients at once on one session; a pass ends when
  *    both have finished their round.
  *
  * Timed passes of solo workloads force a GC before every op, outside
  * the op's interval; `mixed` only between passes (a GC would stall the
  * other client). With `--trace true` half the passes register the [[Tracer]]
  * and record the pass's layer figures; the other half time the same
  * work untraced, which gives the tracing overhead. */
object Harness {

  final case class Conf(workload: String, seconds: Double, trace: Boolean,
                        tables: String, workbook: String, script: String,
                        ops: Seq[String], out: String, local: String,
                        slots: Int, setups: Int, warmups: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seconds").toDouble, m("trace").toBoolean,
      m("tables"), m("workbook"), m("script"),
      m("ops").split(",").toSeq.filter(_.nonEmpty), m("out"), m("local"),
      m("slots").toInt, m("setups").toInt, m("warmups").toInt)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    new File(c.out).mkdirs()
    val run = new Run(c)
    try run.execute() finally run.stop()
  }
}

/** One timed op. Times are `System.nanoTime`; `startMs`/`endMs` are
  * wall-clock, for matching listener events that carry epoch times. */
final class OpRec(val client: String, val op: String, val pass: Int,
                  val traced: Boolean) {
  var startNs = 0L; var endNs = 0L; var cpuNs = 0L
  var startMs = 0L; var endMs = 0L
  var ok = true; var err = ""
  var buildNs = 0L; var writeNs = 0L; var csvNs = 0L
  var writtenBytes = 0L; var files = 0
  var leftAfter = 0; var cachedBytes = 0L
  var held: Seq[String] = Nil // persisted RDDs after the op, traced passes
  def wallNs: Long = endNs - startNs
  def key(phase: String): String = s"$pass\t$client\t$op\t$phase"
}

final class Run(c: Harness.Conf) {
  import Harness.cpuNs

  private var spark: SparkSession = _
  private val recs = ArrayBuffer[OpRec]()
  private val passes = ArrayBuffer[Map[String, Any]]()
  private val layers = ArrayBuffer[Map[String, Any]]()
  private val inconsistent = scala.collection.mutable.LinkedHashSet[String]()
  private val tracer = new Tracer(c.slots)

  private val script: Seq[(String, String)] =
    Files.readAllLines(Paths.get(c.script), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("--"))
      .map { l =>
        val Array(id, sql) = l.split("\t", 2)
        id -> sql.replace("${OUT}", s"${c.out}/repl")
      }
  private val usesRepl = c.workload != "curation"
  private val workbookBytes = new File(c.workbook).length()

  private def newSession(): SparkSession = {
    // after tune: it sets shuffle.partitions from SPARK_GRAFT_CPUS
    val s = GraftSession.tune(SparkSession.builder()
        .master(s"local[${c.slots}]")
        .appName("graftbench"))
      .config("spark.sql.shuffle.partitions", c.slots.toString)
      .config("spark.local.dir", s"${c.local}/spark")
      .config("spark.sql.warehouse.dir", s"${c.local}/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def setUp(): Unit = {
    spark = newSession()
    Tables.registerAll(spark, c.tables)
  }

  /** Set-up is timed `setups` times: the first from JVM start, the
    * others from stopping the previous session. */
  private def setUps(): Seq[Double] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    setUp()
    val first = (System.currentTimeMillis() - jvmStartMs) / 1e3
    first +: (1 until c.setups).map { _ =>
      val t0 = System.nanoTime()
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      setUp()
      (System.nanoTime() - t0) / 1e9
    }
  }

  def execute(): Unit = {
    val setups = setUps()
    Json.write(s"${c.out}/oracle_sql.json",
      c.ops.map(op => op -> SparkEntry.oracleSql.getOrElse(op, "")).toMap)
    // the JIT keeps compiling through the first passes (a pass's CPU time
    // falls by a third from the first pass to the fourth), so several
    // untimed passes run before the timed ones
    val w0 = System.nanoTime()
    (1 to c.warmups).foreach(_ => runPass(-1, traced = false))
    val warmup = (System.nanoTime() - w0) / 1e9
    val t0 = System.nanoTime()
    var p = 0
    // a traced run alternates untraced and traced passes as U T T U …,
    // so a drift over the run weighs on both sides alike
    while (p == 0 || System.nanoTime() - t0 < c.seconds * 1e9 || (c.trace && p < 4)) {
      runPass(p, traced = c.trace && (p % 4 == 1 || p % 4 == 2))
      p += 1
    }
    val timed = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(spark.sparkContext)
    // the least of five readings, each after a full GC and a pause: a
    // single reading came out 64 MB high in 3 of 20 `curation` runs; the
    // pauses let work still in flight (asynchronous unpersists) end
    val retained = (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    Json.write(s"${c.out}/result.json", Map(
      "workload" -> c.workload, "slots" -> c.slots,
      "setups_s" -> setups, "warmup_s" -> warmup, "timed_s" -> timed,
      "retained_mb" -> retained,
      "passes" -> passes.toSeq, "layers" -> layers.toSeq,
      "inconsistent" -> inconsistent.toSeq,
      "ops" -> recs.filter(_.pass >= 0).map(r => Map(
        "client" -> r.client, "op" -> r.op, "pass" -> r.pass,
        "traced" -> r.traced, "wall_s" -> r.wallNs / 1e9,
        "cpu_s" -> r.cpuNs / 1e9, "ok" -> r.ok, "err" -> r.err)).toSeq))
    if (c.trace) tracer.writeTrace(s"${c.out}/trace.json", recs.toSeq)
  }

  def stop(): Unit = if (spark != null) spark.stop()

  private def runPass(pass: Int, traced: Boolean): Unit = {
    val sc = spark.sparkContext
    if (traced) tracer.attach(spark)
    val solo = c.workload != "mixed"
    val passRecs = ArrayBuffer[OpRec]()
    def collect(r: OpRec): Unit = passRecs.synchronized(passRecs += r)
    System.gc()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    if (solo) { // warm-up passes skip the GCs: they only steady the timing
      if (usesRepl) replPass(pass, traced, gc = pass >= 0, collect)
      else curationPass(pass, traced, gc = pass >= 0, collect)
    } else {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = Seq(
        () => replPass(pass, traced, gc = false, collect),
        () => curationPass(pass, traced, gc = false, collect)).map { body =>
        val t = new Thread(() => try body() catch { case e: Throwable => err.set(e) })
        t.start(); t
      }
      threads.foreach(_.join())
      if (err.get != null) throw err.get
    }
    val wallNs = System.nanoTime() - t0
    val cpu = cpuNs() - cpu0
    if (traced) {
      BenchBus.drain(sc)
      tracer.detach(spark)
    }
    recs ++= passRecs
    if (pass < 0) return
    // solo passes exclude the GCs between ops: their time is the ops'
    val (passWall, passCpu) =
      if (solo) (passRecs.map(_.wallNs).sum / 1e9, passRecs.map(_.cpuNs).sum / 1e9)
      else (wallNs / 1e9, cpu / 1e9)
    passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> passWall,
      "cpu_s" -> passCpu, "written_bytes" -> passRecs.map(_.writtenBytes).sum,
      "ops" -> passRecs.size)
    if (traced)
      layers += tracer.passLayers(pass, passRecs.toSeq, passWall, workbookBytes)
  }

  private val rddSite = "\\w+\\[\\d+\\] at [^\\n]*$".r

  /** After-op probes of a traced pass, outside the op's interval. */
  private def probe(r: OpRec): Unit = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    val held = sc.getPersistentRDDs.values.toSeq
    r.leftAfter = held.size
    // an RDD's toString is its name (for a staged Dataset, the whole
    // plan) followed by "<Class>[id] at <call site>"; keep the latter
    r.held = held.map(d => rddSite.findFirstIn(d.toString).getOrElse(s"RDD[${d.id}]")).sorted
    r.cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
  }

  // -- repl client -----------------------------------------------------------

  private val referenceText = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def replPass(pass: Int, traced: Boolean, gc: Boolean,
                       collect: OpRec => Unit): Unit = {
    val sc = spark.sparkContext
    val dir = new File(s"${c.out}/repl"); dir.mkdirs()
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, UTF_8)
    var cur: OpRec = null
    var curLine = ""
    var next = 0

    def begin(id: String, line: String): Unit = {
      if (gc) System.gc()
      cur = new OpRec("repl", id, pass, traced)
      curLine = line
      sc.setLocalProperty(Tracer.KeyProp, cur.key("stmt"))
      cur.startMs = System.currentTimeMillis()
      cur.cpuNs = cpuNs()
      cur.startNs = System.nanoTime()
    }
    def finish(): Unit = if (cur != null) {
      cur.endNs = System.nanoTime()
      cur.cpuNs = cpuNs() - cur.cpuNs
      cur.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.KeyProp, null)
      val text = buf.toString(UTF_8).stripSuffix("[SQL] >> ")
      buf.reset()
      if (text.startsWith("Error:")) { cur.ok = false; cur.err = text.trim }
      val prev = referenceText.putIfAbsent(cur.op, text)
      if (prev == null) Files.writeString(Paths.get(s"$dir/${cur.op}.txt"), text)
      else if (prev != text) inconsistent.synchronized(inconsistent += cur.op)
      SqlRepl.splitExport(curLine)._2.foreach { path =>
        val f = new File(path)
        if (f.exists()) { cur.writtenBytes = f.length(); cur.files = 1 }
        if (traced && f.exists()) cur.csvNs = replayCsv(path)
      }
      if (traced) probe(cur)
      collect(cur)
      cur = null
    }
    val reader = new BufferedReader(new StringReader("")) {
      override def readLine(): String = {
        finish()
        if (next < script.size) {
          val (id, line) = script(next); next += 1
          begin(id, line); line
        } else null
      }
    }
    begin("load", "")
    try SqlRepl.runCli(Array("-f", c.workbook, "-s", "Services"), spark, reader, ps)
    catch {
      case e: Throwable => // the load failed: every op of the round fails
        cur.ok = false; cur.err = e.toString
        finish()
        script.drop(next).foreach { case (id, _) =>
          val r = new OpRec("repl", id, pass, traced)
          r.ok = false; r.err = "not run: workbook load failed"
          collect(r)
        }
    }
  }

  /** `CsvExport.exportRendered` is called inside `runLine`; its cost is
    * measured by replaying it on the rows the statement exported. */
  private def replayCsv(path: String): Long = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
    val header = lines.head.split(",", -1).toSeq
    val rows = lines.tail.map(_.split(",", -1).toSeq)
    val tmp = path + ".replay"
    val t0 = System.nanoTime()
    CsvExport.exportRendered(header, rows, tmp)
    val ns = System.nanoTime() - t0
    new File(tmp).delete()
    ns
  }

  // -- curation client -------------------------------------------------------

  private def curationPass(pass: Int, traced: Boolean, gc: Boolean,
                           collect: OpRec => Unit): Unit = {
    val sc = spark.sparkContext
    c.ops.foreach { op =>
      if (gc) System.gc()
      val r = new OpRec("curation", op, pass, traced)
      val dest = s"${c.out}/curation/$op"
      sc.setLocalProperty(Tracer.KeyProp, r.key("build"))
      r.startMs = System.currentTimeMillis()
      r.cpuNs = cpuNs()
      r.startNs = System.nanoTime()
      try {
        val df = SparkEntry.queries(op)(spark, c.tables)
        val t1 = System.nanoTime()
        r.buildNs = t1 - r.startNs
        sc.setLocalProperty(Tracer.KeyProp, r.key("write"))
        ParquetSink.write(df, dest)
        r.writeNs = System.nanoTime() - t1
      } catch { case e: Throwable => r.ok = false; r.err = e.toString }
      r.endNs = System.nanoTime()
      r.cpuNs = cpuNs() - r.cpuNs
      r.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.KeyProp, null)
      val files = Option(new File(dest).listFiles()).getOrElse(Array.empty[File])
      r.writtenBytes = files.map(_.length()).sum
      r.files = files.count(_.getName.startsWith("part-"))
      if (traced) probe(r)
      collect(r)
    }
  }
}
