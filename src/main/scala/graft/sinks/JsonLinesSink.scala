package graft.sinks

import org.apache.spark.sql.DataFrame
import graft.operators.Staging

/** JSON-Lines sink — corpus export in the shape downstream trainers
  * ingest: one JSON object per line, one shard file per partition.
  *
  * gzip by default: text-source compression rides Hadoop codecs, and
  * gzip is the one every consumer and every Hadoop build decodes
  * (zstd needs native Hadoop bindings — pass "zstd" where the cluster
  * has them; public corpora ship as both .gz and .zst). Shard files
  * are whole-file units to readers either way, so parallelism comes
  * from the one-file-per-partition layout: shard count = upstream
  * partitioning, sized with repartition()/q53-style packing before
  * the write, not here.
  * `ignoreNullFields=false`: a null field and an absent field are
  * different statements in a corpus schema (explicit null survives
  * round-trips; silent dropping makes schema drift invisible). Each
  * write is a [[Staging.scope]], like [[ParquetSink]]'s. */
object JsonLinesSink {
  def write(df: DataFrame, dir: String,
            compression: String = "gzip",
            partitionBy: Seq[String] = Nil): Unit = Staging.scope {
    val w = df.write.mode("overwrite")
      .option("compression", compression)
      .option("ignoreNullFields", "false")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(dir)
  }
}
