package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Dedup, Staging}

/** Dev probes over the gated queries of `SparkEntry.queries`, each run
  * against the noop sink. Dev-only, not part of the shipped library.
  * The modes (their arguments are in `Usage`):
  *  - `time`: every sample plus the median, on one line that
  *    `tools/bench_isolated.sh` parses, so a per-query regression can be
  *    told from hypervisor steal.
  *  - `ab`: an INTERLEAVED same-JVM A/B of a runtime SQLConf (sample A,
  *    sample B, sample A, ...), so a host steal wave (4-20 % in bursts
  *    of minutes, SURVEY §6) lands on both arms instead of poisoning
  *    whichever arm ran in its window (one sequential d07 SMJ-vs-SHJ
  *    comparison read 29.9 s vs 3.7 s when the quiet-window truth was
  *    2.5 vs 3.1 the OTHER way). A code-variant A/B is `time` run
  *    against two checkouts.
  *  - `plan`: the FINAL adaptive physical plan, after AQE's broadcast
  *    conversions and coalescing; `fmt=formatted` prints the
  *    numbered-operator view committed under plans/, `all=true` the plan
  *    of every internal action too (CC label rounds, checkpoint builds),
  *    which the final write's plan never contains.
  *  - `jobs`: every Spark job the action tree launched (start offset,
  *    duration, stage count), so a "cut the blocking-job count" claim is
  *    a committed number. AQE stage-materialization jobs count too; the
  *    value is the before/after delta on identical AQE settings.
  *  - `cc`: per-step change counts of min-label propagation on the
  *    gated CC consumers' pair graphs (d07, d10, m06). The fixpoint step
  *    f decides what a fused s-steps-per-job round buys: ceil(f/s)
  *    blocking jobs and (s - f mod s) mod s wasted passes.
  *
  * Every sample is a [[Staging.scope]], so its stages are freed before
  * the next one starts, and a GC outside the timed region follows it.
  * `conf=k:v` pairs are set on the session `main` builds, so static
  * confs work too. env: SPARK_GRAFT_SF_DIR (default sf0.1),
  * SPARK_GRAFT_CPUS (default 32). */
object Probe {
  private val Usage = "usage: Probe time <query> [iters] [conf=k:v ...]\n" +
    "       Probe ab <query> <confKey> <a> <b> [pairs]\n" +
    "       Probe plan <query> [fmt=formatted] [all=true] [conf=k:v ...]\n" +
    "       Probe jobs [query] [samples]\n" +
    "       Probe cc"
  private val WarmDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val confs =
      try parse(args.toSeq)._3
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (args(0) == "time") "WARN" else "ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Run one probe on `spark`, printing to stdout. Leaves the session
    * running, with every conf it set restored and every listener it
    * registered removed. */
  def run(spark: SparkSession, args: Seq[String],
          sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
            "/root/testdata/sf0.1")): Unit = {
    val (mode, pos, confs) = parse(args)
    withConfs(spark, confs) {
      mode match {
        case "time" => time(spark, pos(0), pos.lift(1).fold(5)(_.toInt), sfDir)
        case "ab"   => ab(spark, pos(0), pos(1), pos(2), pos(3),
                          pos.lift(4).fold(4)(_.toInt), sfDir)
        case "plan" => plan(spark, pos(0), args.contains("fmt=formatted"),
                            args.contains("all=true"), sfDir)
        case "jobs" => jobs(spark, pos.headOption.getOrElse("d07_dedup_corpus"),
                            pos.lift(1).fold(2)(_.toInt), sfDir)
        case "cc"   => cc(spark, sfDir)
      }
    }
  }

  /** (mode, positional arguments, conf=k:v pairs); throws
    * IllegalArgumentException with the usage on a malformed call. */
  private def parse(args: Seq[String])
      : (String, Seq[String], Seq[(String, String)]) = {
    def bad(why: String) = throw new IllegalArgumentException(s"$why\n$Usage")
    val mode = args.headOption.getOrElse(bad("no mode"))
    val (opts, pos) = args.drop(1)
      .partition(a => Seq("conf=", "fmt=", "all=").exists(a.startsWith))
    val confs = opts.filter(_.startsWith("conf=")).map { a =>
      a.stripPrefix("conf=").split(":", 2) match {
        case Array(k, v) => k -> v
        case _ => bad(s"malformed '$a' — expected conf=key:value")
      }
    }
    val (minPos, optsOk) = mode match {
      case "time" => (1, Set("conf"))
      case "ab"   => (4, Set.empty[String])
      case "plan" => (1, Set("conf", "fmt", "all"))
      case "jobs" => (0, Set.empty[String])
      case "cc"   => (0, Set.empty[String])
      case m      => bad(s"unknown mode '$m'")
    }
    if (pos.size < minPos) bad(s"$mode needs $minPos argument(s)")
    opts.find(o => !optsOk(o.takeWhile(_ != '='))).foreach(o =>
      bad(s"$mode takes no '$o'"))
    (mode, pos, confs)
  }

  /** Set `kvs` for `body` and restore each key's explicit setting (or
    * its absence) afterwards; `body` may set the same keys again. A key
    * already at its value is not touched, so a static conf that `main`
    * put on the builder passes. */
  private def withConfs[T](spark: SparkSession, kvs: Seq[(String, String)])
                          (body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    try {
      kvs.foreach { case (k, v) =>
        if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v) }
      body
    } finally before.foreach { case (k, old) =>
      if (spark.conf.getAll.get(k) != old)
        old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private type Query = (SparkSession, String) => DataFrame
  private def query(name: String): Query = graft.SparkEntry.queries(name)

  /** Codegen warm-up at the smallest SF; a failure here is not a probe
    * result. */
  private def warm(spark: SparkSession, fn: Query): Unit =
    try Staging.scope(noop(fn(spark, WarmDir))) catch { case NonFatal(_) => }

  /** [[warm]], then one untimed sample at the measured `dir`: the small
    * SF alone leaves the JIT short of steady state, and the first
    * samples at `dir` ran a third or more slower than the last. */
  private def settle(spark: SparkSession, fn: Query, dir: String): Unit = {
    warm(spark, fn)
    timed(spark, fn, dir)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds for one build-and-write of `fn` at `dir`; its stages are
    * freed and a GC runs after the timed region. */
  private def timed(spark: SparkSession, fn: Query, dir: String): Double = {
    val dt = Staging.scope {
      val t0 = System.nanoTime()
      noop(fn(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    System.gc()
    dt
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def time(spark: SparkSession, name: String, iters: Int,
                   sfDir: String): Unit = {
    val fn = query(name)
    settle(spark, fn, sfDir)
    val samples = (1 to iters).map(_ => timed(spark, fn, sfDir))
    println(f"$name samples=${samples.map(s => f"$s%.2f").mkString(",")} " +
      f"median=${median(samples)}%.3f")
  }

  private def ab(spark: SparkSession, name: String, key: String, va: String,
                 vb: String, pairs: Int, sfDir: String): Unit = {
    val fn = query(name)
    val arms = Seq("A" -> va, "B" -> vb)
    val times = collection.mutable.Map("A" -> Vector.empty[Double],
                                       "B" -> Vector.empty[Double])
    withConfs(spark, Seq(key -> va)) {
      // once per arm: a different conf can mean different generated code
      arms.foreach { case (_, v) =>
        spark.conf.set(key, v); settle(spark, fn, sfDir) }
      for (_ <- 1 to pairs; (arm, v) <- arms) {
        spark.conf.set(key, v)
        times(arm) :+= timed(spark, fn, sfDir)
      }
    }
    arms.foreach { case (arm, v) =>
      val t = times(arm)
      println(f"$arm ($key=$v): median ${median(t)}%6.3f  min ${t.min}%6.3f  " +
        s"(${t.map(x => f"$x%.2f").mkString(", ")})")
    }
  }

  private def plan(spark: SparkSession, name: String, formatted: Boolean,
                   all: Boolean, sfDir: String): Unit = {
    // The noop write runs its OWN QueryExecution, so `df.queryExecution`
    // after the save is an un-executed AdaptiveSparkPlan (initial plan,
    // pre-AQE join strategies). Capture the write's instead: the LAST
    // successful one, since multi-job operators (CC rounds, Lloyd
    // steps) report their internal actions first.
    val qes = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = qes.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try Staging.scope {
      val df = query(name)(spark, sfDir)
      noop(df)
      GraftInternal.waitForListeners(spark)
      df
    } finally spark.listenerManager.unregister(listener)
    def show(q: QueryExecution): String =
      if (formatted) q.explainString(FormattedMode) else q.executedPlan.toString
    val seen = qes.asScala.toSeq
    if (all) seen.zipWithIndex.foreach { case ((fn, q), i) =>
      println(s"===== internal action $i ($fn) =====")
      println(show(q))
    } else println(show(seen.lastOption.fold(df.queryExecution)(_._2)))
  }

  private final case class Job(t0: Long, stages: Int)

  private def jobs(spark: SparkSession, name: String, samples: Int,
                   sfDir: String): Unit = {
    val fn = query(name)
    warm(spark, fn)
    val started = new ConcurrentHashMap[Int, Job]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, Job(e.time, e.stageInfos.size))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.time)
    }
    System.gc()
    (1 to samples).foreach { s =>
      started.clear(); ended.clear()
      spark.sparkContext.addSparkListener(listener)
      val wall = try {
        val w = timed(spark, fn, sfDir)
        GraftInternal.waitForListeners(spark)
        w
      } finally spark.sparkContext.removeSparkListener(listener)
      val js = started.asScala.toSeq.sortBy(_._2.t0)
      val base = js.headOption.fold(0L)(_._2.t0)
      println(f"--- $name sample $s: ${js.size} jobs, wall $wall%.2f s ---")
      js.foreach { case (id, j) =>
        val dur = ended.asScala.get(id).fold(0L)(_ - j.t0)
        println(f"  job $id%3d  +${(j.t0 - base) / 1000.0}%6.2fs  " +
          f"dur ${dur / 1000.0}%6.2fs  stages ${j.stages}%2d")
      }
    }
  }

  private def cc(spark: SparkSession, sfDir: String): Unit = {
    // one-step rounds, printing every step's change count until a
    // zero-change step, like the fused loop's confirm step; the scope
    // also frees the stages `pairsDf` was built on
    def probe(name: String, pairsDf: DataFrame): Unit = Staging.scope {
      val edges = Staging.checkpoint(pairsDf
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")), eager = true)
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id"))
      val lblType = labels.schema("lbl").dataType
      var prev: DataFrame = null
      var changed = -1L
      val counts = collection.mutable.ArrayBuffer.empty[Long]
      while (changed != 0L && counts.size < 20) {
        val next = Staging.checkpoint(labels
          .select(col("id"), col("lbl"), col("lbl").as("o"))
          .unionAll(edges.join(labels, edges("dst") === labels("id"))
            .select(edges("src").as("id"), col("lbl"),
              lit(null).cast(lblType).as("o")))
          .groupBy("id").agg(min("lbl").as("lbl"), min("o").as("o")),
          eager = false)
        changed = next
          .agg(count(when(col("lbl") < col("o"), lit(1))).as("c"))
          .first().getLong(0)
        counts += changed
        if (prev != null) Staging.free(prev)
        prev = next
        labels = next
      }
      val f = counts.length
      println(s"[ccprobe] $name: per-step changes ${counts.mkString(", ")} " +
        s"(f = $f; fused-2 jobs = ${(f + 1) / 2}, fused-3 jobs = ${(f + 2) / 3})")
    }

    // d07's pair graph: LSH pairs over the exact-dedup survivors
    val docs = graft.Tables(spark, sfDir, "documents")
    val survivors = Staging.persist(
      Dedup.exact(docs, md5(col("text")), col("doc_id")), eager = false)
    probe("d07", Dedup.minhashLshPairsStaged(survivors, col("doc_id"),
      col("text"), 16, 4, 0.6, 42L, None).result)

    // d10's pair graph: the keyed corpus + FLAGged batch pairs of
    // Dedup.incrementalDedupStaged, on d10_incremental_dedup's subset
    val FLAG = 1L << 62
    val m = math.max(1L, docs.count() / 25000L)
    val sub = if (m == 1L) docs else docs.filter(col("doc_id") % m === 0)
    val corpus = sub.filter(col("doc_id") % 7 =!= 0)
    val batch = sub.filter(col("doc_id") % 7 === 0)
    val b1 = Dedup.exact(batch, md5(col("text")), col("doc_id"))
    val corpusHashes = corpus.select(md5(col("text")).as("__ch")).distinct()
    val b2 = Staging.persist(
      b1.join(corpusHashes, md5(col("text")) === col("__ch"), "left_anti"),
      eager = false)
    val keyed = corpus.select(col("doc_id").cast("long").as("kid"),
        col("text").as("ktext"))
      .unionAll(b2.select((col("doc_id").cast("long") + FLAG).as("kid"),
        col("text").as("ktext")))
    val bands = 16; val rowsPerBand = 4
    val sigs = Staging.persist(keyed
      .select(col("kid").as("id"), Dedup.shingleHashes(col("ktext")).as("h"))
      .filter(size(col("h")) > 0)
      .select(col("id"), col("h"), graft.functions.MinHashFunctions
        .minhashSig(col("h"), bands * rowsPerBand, 42L).as("sig")),
      eager = true)
    val bandCols = (0 until bands).map { b =>
      val bandSig = concat_ws("_",
        (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*)
      struct(lit(b).as("band"), xxhash64(bandSig).as("bkey"))
    }
    val buckets = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    val candIds = buckets.as("a").join(buckets.filter(col("id") >= FLAG).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val hTab = sigs.select(col("id"), col("h"))
    probe("d10", candIds
      .join(hTab.toDF("id_a", "ha"), "id_a")
      .join(hTab.toDF("id_b", "hb"), "id_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b"))

    // m06's pair graph: the pigeonhole hamming pairs (gated spelling)
    probe("m06", graft.operators.Multimodal.imagePhashPairs(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      col("doc_id"), col("payload"), maxDist = 3))
  }
}
