package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DataQuality, Layout}
import graft.sources.{AnalysisStore, CatalogStore, SchemaDrift}

/** Whole-lifecycle example for the table-management layer — how the
  * round-8 pieces compose into the maintenance loop a 100 TB
  * deployment actually runs. One tick:
  *
  *  1. ADMIT: schema-drift check against the stored contract —
  *     additions tolerated (merge null-fills), retypes refused
  *     loudly ([[SchemaDrift.violations]]);
  *  2. PUBLISH: write-audit-publish — the tick stages off the
  *     serving path, DataQuality audits run against the STAGED data,
  *     only a clean bill swaps live ([[AnalysisStore
  *     .writeAuditPublish]]);
  *  3. OPTIMIZE: when the live table has fragmented past
  *     `maxFiles`, compact + z-order it in one crash-safe rewrite
  *     ([[AnalysisStore.optimize]]);
  *  4. INDEX: refresh the per-file min/max skipping index
  *     incrementally — only files not yet indexed are scanned
  *     ([[Layout.fileIndexDelta]]);
  *  5. SNAPSHOT: commit the serving view as table [[SnapshotTable]]
  *     of a one-table catalog (time travel + data-free restore,
  *     [[CatalogStore]]).
  *
  * Serving reads then go through [[readServing]]: pruned to the
  * files whose bounding box intersects the predicate — the index
  * makes the clustered layout pay off.
  *
  * Everything here is driver-orchestrated metadata + Spark jobs; no
  * step holds more than file listings / audit scalars on the driver.
  */
object LakehouseJob {

  /** `snapshots` is a [[CatalogStore]] root. */
  final case class Paths(table: String, index: String, snapshots: String)

  /** The one table of the `snapshots` catalog. */
  val SnapshotTable = "serving"

  final case class TickReport(
      admitted: Boolean, driftViolations: Seq[SchemaDrift.Drift],
      published: Boolean, failedAudits: Seq[String],
      optimizedToFiles: Option[Int],
      // count of ALL files in the rebuilt index (step 4 is a full
      // rebuild — this job's publish rewrites every file), not a delta
      indexedFiles: Long,
      snapshotVersion: Option[Int])

  /** One maintenance tick. `zorderCols` are the serving predicate
    * dimensions; audits gate the publish.
    */
  def tick(spark: SparkSession, paths: Paths, incoming: DataFrame,
      zorderCols: Seq[String],
      audits: Seq[(String, DataFrame => Boolean)],
      maxFiles: Int = 64, targetFileBytes: Long = 4L << 20): TickReport = {
    val fs = new org.apache.hadoop.fs.Path(paths.table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(paths.table))

    // 1. ADMIT — drift contract against the live schema
    val violations =
      if (!exists) Seq.empty
      else SchemaDrift.violations(
        spark.read.parquet(paths.table).schema, incoming.schema)
    if (violations.nonEmpty)
      return TickReport(admitted = false, violations, published = false,
        Nil, None, 0L, None)

    // 2. PUBLISH — merged table, audited while staged
    val merged =
      if (!exists) incoming
      else spark.read.parquet(paths.table)
        .unionByName(incoming, allowMissingColumns = true)
    val wap = AnalysisStore.writeAuditPublish(spark, paths.table, audits)(
      staging => merged.write.parquet(staging))
    if (!wap.published)
      return TickReport(admitted = true, Nil, published = false,
        wap.failed, None, 0L, None)

    // 3. OPTIMIZE — only when fragmentation crossed the line
    val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(paths.table))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val optimized =
      if (nFiles <= maxFiles) None
      else Some(AnalysisStore.optimize(spark, paths.table, zorderCols,
        targetFileBytes = targetFileBytes))

    // 4. INDEX — this job's publish is a full-snapshot REWRITE (the
    // WAP swap replaces every file), so the index rebuilds per tick;
    // append-shaped tables use Layout.fileIndexDelta instead (its
    // union ≡ rebuild contract is layout_index_delta_gate's), and the
    // rebuild here IS the delta path against an empty index — same
    // per-file cost, no stale entries pointing at swapped-out files
    val nextIndex = Layout.fileIndex(spark, paths.table, zorderCols)
      .localCheckpoint(true)
    val newCount = nextIndex.count()
    AnalysisStore.stageAndSwap(spark, paths.index)(
      staging => nextIndex.write.parquet(staging))

    // 5. SNAPSHOT — versioned serving copy, catalog version 1, 2, …
    val tx = CatalogStore.commit(spark, paths.snapshots,
      Map(SnapshotTable -> spark.read.parquet(paths.table)))

    TickReport(admitted = true, Nil, published = true, Nil,
      optimized, newCount, tx.version)
  }

  /** Serving read: file-skipping through the maintained index. */
  def readServing(spark: SparkSession, paths: Paths,
      ranges: Seq[Layout.Range]): DataFrame =
    Layout.prunedRead(spark, paths.table,
      spark.read.parquet(paths.index), ranges)

  /** Canonical audits for a fact table: key present, measure sane. */
  def standardAudits(keyCol: String, measureCol: String,
      lo: Double, hi: Double): Seq[(String, DataFrame => Boolean)] = Seq(
    s"not_null($keyCol)" -> ((df: DataFrame) =>
      DataQuality.check(df, Seq(DataQuality.notNull(keyCol)))
        .filter(!col("passed")).isEmpty),
    s"in_range($measureCol)" -> ((df: DataFrame) =>
      DataQuality.check(df, Seq(DataQuality.inRange(measureCol, lo, hi)))
        .filter(!col("passed")).isEmpty))
}
