package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic stage-once helper: compute → scratch parquet on first use
  * per (app, sf dir), read the staged copy after — the deployed shape
  * for every relation with multiple consumers (calibration pairs,
  * pair graphs, ANN indexes, exact ground truths).
  *
  * Publishes ATOMICALLY: write to a unique temp sibling, then rename
  * into place. The bare check-_SUCCESS-then-overwrite pattern raced
  * when two queries in one app staged the same (dir, tag) — one
  * reader could observe a half-overwritten relation. In-JVM the
  * intern'd path string serializes the two writers; cross-process the
  * rename either wins (published) or loses (temp dropped, the
  * winner's complete copy read) — never a partial directory at the
  * published path. */
object Staging {
  def staged(spark: SparkSession, dir: String, tag: String)(
      compute: => DataFrame): DataFrame = {
    val path = stagedPath(spark, dir, tag)(
      tmpPath => compute.write.mode("overwrite").parquet(tmpPath))
    Tables.parquet(spark, path)
  }

  /** The path form, for multi-relation artifacts (an index directory
    * with centroids/assignments/manifest subdirs): `write` fills a
    * temp root which is renamed into place whole, so readers never
    * see a partially-built index. `readyMarker` is the path (relative
    * to the root) whose existence marks a published copy. */
  def stagedPath(spark: SparkSession, dir: String, tag: String,
      readyMarker: String = "_SUCCESS")(write: String => Unit): String = {
    val path = graft.queries.SourcesSinks.tmp(spark, dir, tag)
    path.intern.synchronized {
      if (!new java.io.File(s"$path/$readyMarker").isFile) {
        val tmpPath = s"${path}_tmp_${java.util.UUID.randomUUID.toString.take(8)}"
        write(tmpPath)
        val tmpDir = new java.io.File(tmpPath)
        if (!tmpDir.renameTo(new java.io.File(path))) {
          // a concurrent process published first: use theirs
          graft.queries.SourcesSinks.deleteRecursively(tmpDir)
          require(new java.io.File(s"$path/$readyMarker").isFile,
            s"staged($tag): rename to $path failed and no published copy exists")
        }
      }
    }
    path
  }
}
