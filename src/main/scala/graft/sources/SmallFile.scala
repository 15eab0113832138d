package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Small metadata files — the lake's `_meta.json`, aggregation
  * checkpoints, streaming commit markers — written and read whole through
  * the Hadoop FileSystem API, so HDFS/S3 roots work, not only local paths. */
private[graft] object SmallFile {

  /** Create `path`, or replace it, with exactly `bytes`. */
  def write(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(path, true)
    try out.write(bytes) finally out.close()
  }

  /** The whole file at `path`, decoded as UTF-8. */
  def read(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }
}
