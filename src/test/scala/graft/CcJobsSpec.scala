package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Dedup, Staging}

/** Locks in the blocking-action budget of connected components. A
  * graph under `Dedup.LocalMaxEdges` edge rows is finished on the
  * driver after one edge checkpoint and one `take`. Above it, the
  * label loop runs TWO propagation steps per driver-blocking job
  * (round 18), and the convergence signal is computed inside the fused
  * round's own aggregation action, not by a separate join action. (AQE
  * splits one action into several stage-materialization JOBS — that's
  * query scheduling, not extra driver round-trips — so the spec counts
  * executed actions, not jobs.) */
class CcJobsSpec extends TestSpark {
  import spark.implicits._

  /** The actions `body` executes, by name, in order. */
  private def actionsOf(body: => Unit): Seq[String] = {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events are delivered asynchronously; drain the bus
      // instead of a capped polled sleep (which can elapse on a
      // steal-stalled host before delivery, failing spuriously)
      org.apache.spark.sql.GraftInternal.waitForListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    actions.asScala.toSeq
  }

  test("connected components: one action per fused two-step round") {
    // path 1-2-3-4 has diameter 3 → steps 1-2 change labels (fused
    // job 1), steps 3-4 finish + confirm the fixpoint (fused job 2)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val actions = actionsOf {
      val got = Dedup.labelLoop(pairs).result.as[(Long, Long)]
        .collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    }
    // localCheckpoint registrations fire the listener too (1 eager for
    // edges + 1 lazy per fused round) but only the EAGER one runs a
    // job; the driver round-trips that execute work are the per-fused-
    // round convergence counts and the final collect. A regression to
    // one-step rounds (or a separate convergence action) would add
    // entries here.
    val byName = actions.groupBy(identity).view.mapValues(_.size).toMap
    val nonCheckpoint = actions.count(_ != "localCheckpoint")
    assert(nonCheckpoint === 3,
      s"connected components executed $nonCheckpoint non-checkpoint " +
        s"actions for a diameter-3 run; expected 3 (2 fused round " +
        s"counts + 1 collect). Breakdown: $byName")
    assert(byName.getOrElse("localCheckpoint", 0) === 3) // 1 edges + 2 rounds
  }

  test("stepsPerJob=3 converges a distance-2 graph in ONE fused round") {
    // path 1-2-3: the min-label fixpoint is f=3 (step 1 labels 2,
    // step 2 reaches 3 through 2, step 3 confirms) — the d10 shape.
    // A 3-step fused round runs all of that under a single count
    // action; the s=2 default needs two rounds.
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val actions = actionsOf {
      val got = Dedup.labelLoop(pairs, stepsPerJob = 3)
        .result.as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    }
    val byName = actions.groupBy(identity).view.mapValues(_.size).toMap
    val nonCheckpoint = actions.count(_ != "localCheckpoint")
    assert(nonCheckpoint === 2,
      s"stepsPerJob=3 executed $nonCheckpoint non-checkpoint actions " +
        s"for an f=3 run; expected 2 (1 fused round count + 1 collect). " +
        s"Breakdown: $byName")
    assert(byName.getOrElse("localCheckpoint", 0) === 2) // 1 edges + 1 round
  }

  test("a graph under the driver-finish bound: one edge checkpoint, one " +
       "take and the final action, with no label round") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val cc = actionsOf {
      val got = Dedup.connectedComponents(pairs).as[(Long, Long)]
        .collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    }
    assert(cc === Seq("localCheckpoint", "head", "collect"))
    // d07 at sf0.001: exact dedup and LSH mining are lazy stages that
    // the edge checkpoint's job materializes
    val d07 = actionsOf(Staging.scope {
      assert(SparkEntry.queries("d07_dedup_corpus")(spark, sfDir)
        .collect().nonEmpty)
    })
    assert(d07 === Seq("localCheckpoint", "head", "collect"))
  }
}
