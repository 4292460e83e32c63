package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Shared file-layout policy for partitioned writes (r13 optimization,
  * guide §6 "aim for output files in the 128 MB–1 GB range; small files
  * hurt twice").
  *
  * Every `partitionBy` write opens one file per (task, partition-value)
  * pair, so an unclustered frame with T input tasks writes up to T files
  * in EVERY touched directory — the classic lake small-files explosion,
  * paid again by each subsequent read/delete/compact that lists and opens
  * them. Clustering by the partition columns first bounds each dir to the
  * salt width; the salt keeps a hot partition off a single writer task.
  *
  * The salt WIDTH is size-adaptive rather than a constant: a fixed width
  * multiplies the file count of small tables (4× at gate scale) while
  * still underproviding a truly hot partition at lake scale. One bucket
  * per ~64 MB of estimated input, floor 1, cap 32.
  *
  * r14 (r13 verdict item 3): when the input already has no more
  * partitions than the salt width, the file-count bound ALREADY holds —
  * every touched dir gets at most `partitions ≤ salt` files — so the
  * clustering exchange buys nothing and [[clusterForWrite]] is a no-op.
  * The index lifecycle gates paid that exchange on every write/append/
  * compact phase. The partition-count probe is restricted to
  * exchange-free plans: under AQE, compiling `toRdd` on a plan with
  * exchanges MATERIALIZES the upstream query stages — running real jobs
  * inside what must be a metadata decision (measured: several lifecycle
  * gates got slower, and at lake scale it would double entire shuffles).
  * Plans with exchanges keep the r13 behavior (salted repartition; the
  * write was going to shuffle anyway, the repartition replaces rather
  * than adds a boundary).
  */
object WriteLayout {

  /** The frame's physical partition count, probed ONLY when the plan is
    * narrow (scan/local-relation rooted, no joins/aggregates/repartitions)
    * so compiling the physical plan cannot execute query stages. Returns
    * None for wide plans.
    */
  private def narrowNumPartitions(df: DataFrame): Option[Int] = {
    val wide = df.queryExecution.optimizedPlan.find {
      case _: Project | _: Filter | _: Union | _: LocalRelation |
           _: LogicalRelation | _: SubqueryAlias | _: Generate |
           _: Expand => false
      case p =>
        // LogicalRDD / ExternalRDD / v2 scans live outside the logical
        // package; treat leaves as narrow, anything else as wide
        p.children.nonEmpty
    }.isEmpty
    if (wide) None
    else Some(df.queryExecution.toRdd.getNumPartitions)
  }

  private def sizeSalt(df: DataFrame): Option[Int] = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = BigInt(Long.MaxValue) / 2
    if (bytes <= 0 || bytes >= unknown) None
    else Some(math.max(1L, math.min(32L,
      ((bytes + 64L * 1024 * 1024 - 1) / (64L * 1024 * 1024)).toLong)).toInt)
  }

  /** Salt width: the size estimate, else the r13 conservative 4. The
    * width is deliberately NOT derived from the input's partition count:
    * the salt is the FILE-COUNT bound, and an over-split in-memory frame
    * (32 near-empty slices) must still land as few files — partition
    * count only decides whether the bound already holds (the no-op check
    * below).
    */
  def saltBuckets(df: DataFrame): Int =
    sizeSalt(df).getOrElse(4)

  /** Cluster `df` by its write-partition columns plus a size-adaptive salt
    * on `saltKey` — the step every `partitionBy` write should run first.
    * No-op when the input's (safely probeable) partition count already
    * satisfies the bound.
    */
  def clusterForWrite(df: DataFrame, partCols: Seq[String],
                      saltKey: Column): DataFrame = {
    val salt = saltBuckets(df)
    val parts = narrowNumPartitions(df)
    if (parts.exists(_ <= salt)) df
    else if (salt <= 1) df.repartition(partCols.map(col): _*)
    else df.repartition(
      partCols.map(col) :+ pmod(xxhash64(saltKey), lit(salt.toLong)): _*)
  }

  /** Bound an UNPARTITIONED batch write's file count. Narrow inputs
    * (scans, local frames) take a shuffle-free `coalesce` —
    * a no-op when already within the bound. Wide inputs (tombstone sets
    * computed by a join) keep the `repartition`: a coalesce there would
    * collapse the whole final COMPUTE stage to the file-count width
    * (measured: ann/ts delete gates +30-60% from running their semi-join
    * on 4 tasks), while the repartition leaves the join at full
    * parallelism and only shuffles the metadata-scale result.
    */
  def boundFiles(df: DataFrame): DataFrame = {
    val salt = saltBuckets(df)
    narrowNumPartitions(df) match {
      case Some(p) => if (p <= salt) df else df.coalesce(salt)
      case None    => df.repartition(salt)
    }
  }
}
