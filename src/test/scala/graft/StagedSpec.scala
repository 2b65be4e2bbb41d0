package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, Staging}

/** Lifetime of operator stages ([[graft.operators.Staging]]): a stage
  * lives until the scope that owns it ends, the statement that reads it,
  * and then nothing it cached or checkpointed is left in the session. A
  * stage belongs to the thread that built it, so concurrent statements
  * cannot free each other's stages, and a failed stage frees itself.
  */
class StagedSpec extends TestSpark {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs the gated query end to end in a scope (noop sink action) and
    * returns the persistent-RDD ids and cache entries it left behind. */
  private def leakedBy(name: String): (Set[Int], Int) = {
    val (before, entries) = (persisted, cacheEntries)
    Staging.scope(noop(SparkEntry.queries(name)(spark, sfDir)))
    (persisted -- before, cacheEntries - entries)
  }

  test("d15: the staged per-domain count cache frees itself after the " +
       "consuming action — no persistent RDDs left") {
    assert(leakedBy("d15_domain_cap") === (Set.empty, 0))
  }

  test("q63: the staged (lang, token) vocabulary cache frees itself " +
       "after the consuming action") {
    assert(leakedBy("q63_mi_feature_select") === (Set.empty, 0))
  }

  test("q53: the staged tokenized-corpus projection (corpus-row-sized " +
       "— the one that MUST not outlive the action) frees itself") {
    assert(leakedBy("q53_shard_pack") === (Set.empty, 0))
  }

  test("an eager stage outlives its own count and other statements' " +
       "scopes; free and the end of its own scope release it") {
    val own = Staging.open()
    val (a, b) = own {
      (Staging.persist(
         spark.range(10000).toDF("v").groupBy(col("v") % 13).count(),
         eager = true),
       Staging.checkpoint(spark.range(50).toDF("w"), eager = true))
    }
    // other statements, on this thread and on another one
    Staging.scope(noop(spark.range(10).toDF("x")))
    val t = new Thread(() => Staging.scope(noop(spark.range(10).toDF("y"))))
    t.start(); t.join()
    assert(a.storageLevel.useMemory, "a stage was freed by another scope")
    assert(b.count() === 50L)
    Staging.free(b)
    assert(GraftInternal.backingRdds(b).forall(r =>
      !spark.sparkContext.getPersistentRDDs.contains(r.id)))
    own.close()
    assert(a.storageLevel === StorageLevel.NONE)
  }

  test("eagerly staged operators still compute a fresh answer twice " +
       "in a row in one session (new stage per call, not a stale cache)") {
    val q = SparkEntry.queries("d15_domain_cap")
    val a = Staging.scope(q(spark, sfDir).collect().map(_.toString).toSeq)
    val b = Staging.scope(q(spark, sfDir).collect().map(_.toString).toSeq)
    assert(a === b)
  }

  test("stages built outside any scope are freed by the next scope " +
       "on their thread") {
    val entries = cacheEntries
    // three staged plans that never run
    val built = (1 to 3).map { i =>
      Staging.persist(
        spark.range(100 + i).toDF("v").groupBy(col("v") % 7).count(),
        eager = false)
    }
    assert(cacheEntries === entries + 3)
    Staging.scope(noop(spark.range(10).toDF("x")))
    assert(cacheEntries === entries)
    assert(built.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("Staging.persist(eager) on a plan the USER already persisted " +
       "runs no count on the caller's cache and never frees it") {
    val user = spark.range(2000).toDF("v").persist() // deliberately lazy
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    try {
      GraftInternal.waitForListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      val again = try Staging.scope {
        val s = Staging.persist(spark.range(2000).toDF("v"), eager = true)
        Staging.free(s)
        s
      } finally {
        GraftInternal.waitForListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(jobs.get === 0, "an eager stage materialized a caller-owned cache")
      assert(user.storageLevel.useMemory && again.storageLevel.useMemory)
    } finally user.unpersist()
  }

  test("Staging.persist on a plan the USER already cached leaves the " +
       "user's cache alive after the stage's scope ends") {
    val user = spark.range(1000).toDF("v").persist()
    try {
      user.count() // materialize the user's cache
      Staging.scope(noop(
        Staging.persist(spark.range(1000).toDF("v"), eager = false)))
      assert(user.storageLevel.useMemory,
        "a scope unpersisted a pre-existing user cache")
    } finally user.unpersist()
  }

  test("a failed eager stage frees itself, and an operator failing " +
       "inside a scope leaves no persisted RDD or cache entry") {
    import spark.implicits._
    val (before, entries) = (persisted, cacheEntries)
    val bad = spark.range(200).toDF("v")
      .select(col("v"), assert_true(col("v") < 150).as("ok"))
    // outside any scope: the stage itself must clean up
    intercept[Exception](Staging.checkpoint(bad, eager = true))
    intercept[Exception](Staging.persist(bad, eager = true))
    assert(persisted -- before === Set.empty)
    assert(cacheEntries === entries)
    // incrementalDedup's id check fails inside its eager CC edge
    // checkpoint, after its lazy stages were read into cache
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val badBatch = Seq((-5L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    intercept[Exception](Staging.scope(
      Dedup.incrementalDedup(corpus, col("doc_id"), col("text"),
        badBatch, col("doc_id"), col("text")).collect()))
    assert(persisted -- before === Set.empty)
    assert(cacheEntries === entries)
  }

  test("d03, s06, q63 and d15 at once on four threads, one scope each, " +
       "return the serial rows and leave nothing staged") {
    val names = Seq("d03_minhash_lsh", "s06_knn_centrality",
      "q63_mi_feature_select", "d15_domain_cap")
    def rows(name: String): Seq[String] = Staging.scope(
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString)
        .toSeq.sorted)
    val serial = names.map(rows)
    val (before, entries) = (persisted, cacheEntries)
    val got = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = names.map { n =>
      new Thread(() =>
        try got.put(n, rows(n)) catch { case e: Throwable => err.set(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (err.get != null) throw err.get
    names.zip(serial).foreach { case (n, s) => assert(got.get(n) === s, n) }
    assert(persisted === before)
    assert(cacheEntries === entries)
  }

  test("q63 built, then two actions on another thread, then acted on, " +
       "runs as many jobs as a solo run (its eager stage is not freed)") {
    val sc = spark.sparkContext
    val tag = "graft.spec.q63"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    def q63Jobs(between: => Unit): Int = {
      GraftInternal.waitForListeners(spark)
      jobs.set(0)
      sc.setLocalProperty(tag, "q63")
      try Staging.scope {
        val df = SparkEntry.queries("q63_mi_feature_select")(spark, sfDir)
        between
        noop(df)
      } finally sc.setLocalProperty(tag, null)
      GraftInternal.waitForListeners(spark)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      val solo = q63Jobs(())
      val interleaved = q63Jobs {
        val t = new Thread(() => {
          sc.setLocalProperty(tag, null) // not inherited: not q63's jobs
          (1 to 2).foreach(i =>
            Staging.scope(noop(spark.range(10 * i).toDF("x"))))
        })
        t.start(); t.join()
        GraftInternal.waitForListeners(spark)
      }
      assert(interleaved === solo)
    } finally sc.removeSparkListener(listener)
  }
}
