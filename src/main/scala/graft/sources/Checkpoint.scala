package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation checkpoints: persist `next_bucket_open_time_ms` per
  * (symbol, timeframe) so incremental runs resume exactly where the last
  * one stopped.
  *
  * Reference: /root/reference/src/bfdl/core/checkpoint.py and
  * aggregate_tf.py:122-144,212-237 (read checkpoint → aggregate only newer
  * buckets → advance checkpoint past the last COMPLETE bucket).
  *
  * The checkpoint is driver-side metadata (a few bytes per symbol/tf) — the
  * data path stays fully distributed; the predicate it produces pushes down
  * to the scan. All I/O goes through the Hadoop FileSystem API so lake
  * roots on HDFS/S3 work, not only the local filesystem.
  */
object Checkpoint {

  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def path(root: String, tf: String) =
    new Path(root, s"_checkpoint_$tf.json")

  def read(root: String, tf: String): Map[String, Long] = {
    val p = path(root, tf)
    val fs = p.getFileSystem(hadoopConf())
    if (!fs.exists(p)) Map.empty
    else """"([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(SmallFile.read(fs, p))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def write(root: String, tf: String, next: Map[String, Long]): Unit = {
    val p = path(root, tf)
    val fs = p.getFileSystem(hadoopConf())
    val json = next.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    SmallFile.write(fs, p, json.getBytes("UTF-8"))
  }

  /** Next checkpoint from a derived frame: one past the max complete bucket
    * per symbol (aggregate_tf.py:212-237). Small driver-side collect of one
    * row per symbol. */
  def advance(derived: DataFrame, bucketMs: Long,
              symbolCol: String = "symbol",
              bucketCol: String = "bucket_ms"): Map[String, Long] =
    derived.groupBy(col(symbolCol))
      .agg(max(col(bucketCol)).as("_mx"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1) + bucketMs))
      .toMap
}
