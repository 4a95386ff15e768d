package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loader for the driver-generated testdata star schema
  * (TESTDATA.md): region nation customer supplier part orders lineitem
  * events documents embeddings — one parquet per table under the sf dir.
  *
  * `events.ts` has shipped in two physical layouts across driver testdata
  * generations: parquet TIMESTAMP(NANOS), which Spark's vectorized reader
  * rejects ([PARQUET_TYPE_ILLEGAL]) so we read it as a nanosecond long
  * (legacy conf) and floor-convert to microseconds; and plain
  * timestamp[us] (isAdjustedToUTC=false), which arrives as TIMESTAMP_NTZ.
  * We dispatch on the read type and normalize both to session-zone
  * TimestampType micros (session TZ is UTC everywhere), which is exactly
  * what DuckDB's `epoch_us` sees — so oracle comparisons agree in either
  * layout.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }

  /** Change stamp for a table under `dir`: an XOR fold of a strong
    * per-entry digest (sha256 of `path|mtime|length`, first 8 bytes) over
    * the FULL parquet file tree, combined with the tree's aggregate
    * (fileCount, totalLength, maxMtime). Depth-complete so partitioned
    * layouts are covered. Memo keys include it so an in-place data
    * rewrite invalidates cached derivations instead of serving stale
    * results.
    *
    * XOR of 64-bit sha256 prefixes is commutative (directory traversal
    * order is unspecified) but — unlike the previous weak sum of 32-bit
    * path hashCodes — offsetting changes across files (a compaction that
    * swaps lengths/mtimes between parts) cannot cancel without a sha256
    * collision; and because `lastModified` returns 0 on filesystems that
    * don't expose mtimes, the independent (count, totalLength, maxMtime)
    * component keeps the stamp at least layout- and size-sensitive there.
    * (A same-length rewrite inside one mtime tick remains theoretically
    * invisible — mtime granularity is a filesystem property; callers that
    * rewrite that fast should evict explicitly via [[Memo.release]].) */
  def sourceStamp(dir: String, table: String): Long = {
    val root = java.nio.file.Paths.get(s"$dir/$table.parquet")
    if (!java.nio.file.Files.exists(root)) return 0L
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      var acc = 0L
      var count = 0L
      var totalLen = 0L
      var maxMtime = 0L
      walk.iterator().asScala.foreach { p =>
        val f = p.toFile
        val mtime = f.lastModified()
        val len = f.length()
        val d = java.security.MessageDigest.getInstance("SHA-256")
          .digest(s"$p|$mtime|$len".getBytes("UTF-8"))
        var entry = 0L
        var i = 0
        while (i < 8) { entry = (entry << 8) | (d(i) & 0xffL); i += 1 }
        acc ^= entry
        count += 1
        totalLen += len
        if (mtime > maxMtime) maxMtime = mtime
      }
      acc ^ java.lang.Long.rotateLeft(count, 48) ^
        java.lang.Long.rotateLeft(totalLen, 24) ^ maxMtime
    } finally walk.close()
  }

  /** Like [[apply]], but guarantees the table is spread across the cluster
    * before a compute-heavy projection (sha256 chains, regex parses, HOF
    * dot products). The testdata parquet ships as a single row group, so a
    * bare scan is one task no matter what `maxPartitionBytes` says — a
    * round-robin exchange of the (small) source rows buys full parallelism
    * for the expensive downstream work. On a real multi-file 100 TB input
    * the scan already has ≥ cores partitions and this is skipped. */
  def parallel(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = apply(spark, sfDir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
