package graft

import org.apache.spark.sql.functions._

/** The `spark.graft.staging.reliable` knob (round-18 VERDICT item 3):
  * checkpoint-backed staging sites (connected components' edges and
  * rounds, kNN centrality's loop stages, kmvSetOps' sketch table)
  * default to `localCheckpoint` — executor-local, unreplicated, the
  * right trade on local[*] — and switch to RELIABLE `checkpoint`s
  * (re-readable after executor loss) when the conf is set and a
  * checkpoint dir exists. Results must be identical either way; the
  * reliable path must actually write checkpoint files.
  */
class ReliableStagingSpec extends TestSpark {
  import spark.implicits._

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  private def ccLabels(): Map[Long, Long] = {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 3L))
      .toDF("id_a", "id_b")
    val st = graft.operators.Dedup.labelLoop(pairs)
    val got = st.result.as[(Long, Long)].collect().toMap
    st.cleanup()
    got
  }

  test("reliable staging: connected components produces identical " +
       "labels and writes real checkpoint files") {
    val local = ccLabels()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toFile.getAbsolutePath
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.staging.reliable", "true")
    try {
      val reliable = ccLabels()
      assert(reliable === local)
      def files(d: java.io.File): Seq[java.io.File] = {
        val cs = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        cs.filter(_.isFile) ++ cs.filter(_.isDirectory).flatMap(files)
      }
      assert(files(new java.io.File(dir)).nonEmpty,
        "reliable mode must write checkpoint files to the checkpoint dir")
    } finally {
      spark.conf.set("spark.graft.staging.reliable", "false")
      deleteRec(new java.io.File(dir))
    }
  }

  test("reliable staging: knn centrality and kmv set ops agree with " +
       "the local-checkpoint default") {
    val emb = Tables(spark, sfDir, "embeddings")
    val docs = Tables(spark, sfDir, "documents").limit(200)
      .select(col("source"),
        explode(graft.operators.Dedup.shingleHashes(col("text"))).as("h"))
    def s06(): Seq[String] =
      graft.operators.Similarity.knnCentrality(emb, k = 3, iters = 2)
        .orderBy("vec_id").collect().map(_.toString).toSeq
    def q58(): Seq[String] =
      graft.operators.SketchAlgebra.kmvSetOps(
        graft.operators.SketchAlgebra.kmvSketchRows(
          docs, col("source"), col("h"), k = 64), k = 64)
        .orderBy("src_a", "src_b").collect().map(_.toString).toSeq
    val (s06Local, q58Local) = (s06(), q58())
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2")
      .toFile.getAbsolutePath
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.staging.reliable", "true")
    try {
      assert(s06() === s06Local)
      assert(q58() === q58Local)
    } finally {
      spark.conf.set("spark.graft.staging.reliable", "false")
      deleteRec(new java.io.File(dir))
    }
  }
}
