package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Scan fan-out for CPU-heavy per-row kernels over splits-starved inputs
  * (round 21 — optimization guide §2.5 "input skew": one huge unsplittable
  * file → "repartition immediately after the read").
  *
  * A parquet scan parallelizes across files and row groups, and
  * whole-stage codegen fuses every per-row kernel above the scan into the
  * SAME tasks. When the input cannot fill the session's parallelism — a
  * single small file with one row group (the driver's fixtures at every
  * SF, and any real-world small corpus slice) — the scan plans as ONE
  * usable task, and a CPU-heavy fused kernel serializes on one core while
  * the rest of the machine idles.
  *
  * [[maybeFanout]] inserts ONE hash repartition to the session's default
  * parallelism, but only when the frame's backing files cannot fill it:
  * estimated usable scan tasks = ceil(total input bytes /
  * `spark.sql.files.maxPartitionBytes`) — a byte-proportional proxy for
  * the row-group-bounded parallelism a parquet scan actually achieves. At
  * production scale the estimate exceeds any realistic parallelism and
  * the frame passes through UNTOUCHED — the trigger derives from input
  * size, never from a local[32] constant. The repartition hashes a
  * caller-named key column (stable row identity → deterministic under
  * retries, no round-robin sort-before-repartition).
  *
  * WHERE IT APPLIES — measured, not assumed (SCALE.md round 21): only
  * per-row kernels whose fused single-task cost dwarfs one added
  * exchange+stage (~0.1 s wall at local[32]): interpreted higher-order
  * array functions (repetition stats ~1.9 s single-task, per-shingle md5
  * fingerprints ~1.1 s, per-token md5 in count-min/simhash ~0.8–1.5 s,
  * stopword-profile lang-id ~0.9 s, per-row md5 sampling filters). The
  * cheap-kernel paths (wordcount tokenize, minhash_sig codegen kernel,
  * q1-style column arithmetic) measured strictly SLOWER with a fan-out —
  * tens of ms of kernel against ~0.1 s of stage — and deliberately do NOT
  * use it. Callers must also be partition-INSENSITIVE (per-row outputs or
  * order-insensitive aggregates; never sketches whose merge order shifts
  * results, e.g. approx_percentile).
  *
  * Conservative failure posture: inputs whose size cannot be read cheaply
  * from a local filesystem (object stores, in-memory test frames) pass
  * through untouched — mis-skipping costs parallelism on exotic layouts,
  * mis-firing would insert a corpus-wide exchange at scale.
  */
object Fanout {
  /** Total bytes of the local files backing `df` (clamped at `cap`), or
    * None when any part of the listing is not cheaply sizeable (non-file
    * scheme, missing, in-memory frame). `cap` stops the sweep once the
    * total can no longer trigger a fan-out — the skip decision must not
    * itself cost O(#files) stats on exactly the many-file layouts where
    * fan-out is a no-op. */
  private def inputBytes(df: DataFrame, cap: Long): Option[Long] =
    scala.util.Try {
      val files = df.inputFiles
      if (files.isEmpty) None
      else {
        var sum = 0L
        var i = 0
        while (i < files.length && sum < cap) {
          sum += java.nio.file.Files.size(
            java.nio.file.Paths.get(new java.net.URI(files(i))))
          i += 1
        }
        Some(sum)
      }
    }.toOption.flatten

  /** `df` repartitioned by `key` to the session's default parallelism iff
    * its backing files cannot fill that parallelism on their own; `df`
    * unchanged otherwise. Row-level semantics are identity either way.
    */
  def maybeFanout(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    inputBytes(df, cap = parallelism * maxPartitionBytes) match {
      case Some(bytes)
          if (bytes + maxPartitionBytes - 1) / maxPartitionBytes < parallelism =>
        df.repartition(parallelism, key)
      case _ => df
    }
  }
}
