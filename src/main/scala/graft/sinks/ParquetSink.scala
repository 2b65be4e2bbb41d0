package graft.sinks

import org.apache.spark.sql.DataFrame
import graft.operators.Staging

/** Parquet writer with the layout controls that matter at 100 TB:
  * partition columns for pruning, in-partition sort for row-group
  * skipping (min/max statistics), and an optional target file count.
  * Each write is a [[Staging.scope]]: the stages of the operators that
  * built `df` are freed when it returns.
  */
object ParquetSink {
  def write(df: DataFrame, dir: String,
            partitionBy: Seq[String] = Nil,
            sortWithin: Seq[String] = Nil,
            files: Option[Int] = None): Unit = Staging.scope {
    val shaped0 = files.fold(df)(n => df.repartition(n))
    val shaped =
      if (sortWithin.nonEmpty)
        shaped0.sortWithinPartitions(sortWithin.map(df.col): _*)
      else shaped0
    val w = shaped.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
  }

  /** Bucketed external table: rows are hash-clustered (and sorted) by
    * the join key INTO FILES, so every later equi-join or aggregation
    * on that key is co-located — zero shuffle of the fact table at
    * read time. The 100 TB play: bucket the big fact tables once on
    * their join keys; every downstream join against another table
    * bucketed the same way skips both Exchanges (proven in
    * BucketSpec). Requires a table name (bucket metadata lives in the
    * catalog, not the parquet footer). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, bucketBy: Seq[String]): Unit = Staging.scope {
    // cluster to ONE file per bucket before the write: repartition on
    // the bucket key with numPartitions == buckets uses the same
    // murmur3 hash as the bucket assignment, so each task holds
    // exactly one bucket. Without it every input task writes its own
    // slice of every bucket — M×B small files (the classic bucketed-
    // write file explosion at 100 TB), and multi-file buckets also
    // void the sortBy metadata, putting a per-query Sort back under
    // every downstream merge join.
    df.repartition(buckets, bucketBy.map(df.col): _*)
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketBy.head, bucketBy.tail: _*)
      .sortBy(bucketBy.head, bucketBy.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}
