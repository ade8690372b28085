package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.examples.LakehouseJob
import graft.operators.Layout
import graft.sources.CatalogStore

/** The whole-lifecycle run of the table-management layer: admit →
  * publish (audited) → optimize → index → snapshot, then serve
  * through the skipping index — and the rejection paths (drift,
  * audit) leave the live table untouched.
  */
class LakehouseJobSpec extends SparkSpec {

  import spark.implicits._

  private def paths() = {
    val root = Files.createTempDirectory("lakehouse")
    LakehouseJob.Paths(root.resolve("t").toString,
      root.resolve("idx").toString, root.resolve("snap").toString)
  }

  private def tickDf(ids: Range, priceBase: Double) =
    ids.map(i => (i.toLong, i.toLong % 50, priceBase + i)).toSeq
      .toDF("id", "k", "price")

  private val audits = LakehouseJob.standardAudits("id", "price", 0, 1e9)

  test("ticks publish, index grows incrementally, snapshots version, serving prunes") {
    val p = paths()
    val r1 = LakehouseJob.tick(spark, p, tickDf(1 to 500, 100.0),
      Seq("k", "price"), audits)
    assert(r1.admitted && r1.published && r1.snapshotVersion.contains(1))
    assert(r1.indexedFiles > 0)
    val r2 = LakehouseJob.tick(spark, p, tickDf(501 to 1000, 200.0),
      Seq("k", "price"), audits)
    assert(r2.published && r2.snapshotVersion.contains(2))
    // serving read == full filtered scan
    val got = LakehouseJob.readServing(spark, p,
      Seq(Layout.Range("price", 150.0, 400.0)))
    val full = spark.read.parquet(p.table)
      .filter(col("price").between(150.0, 400.0))
    assert(got.exceptAll(full).count() == 0 &&
      full.exceptAll(got).count() == 0 && got.count() > 0)
    // index covers exactly the live files
    assert(spark.read.parquet(p.index).count() ==
      spark.read.parquet(p.table).select(col("_metadata.file_path"))
        .distinct().count())
    // snapshots: version 1 still serves the 500-row world
    assert(CatalogStore.read(spark, p.snapshots, LakehouseJob.SnapshotTable,
      CatalogStore.snapshot(spark, p.snapshots, Some(1))).count() == 500)
    assert(CatalogStore.readCurrent(spark, p.snapshots,
      LakehouseJob.SnapshotTable).count() == 1000)
  }

  test("audit failure leaves the live table and snapshots untouched") {
    val p = paths()
    assert(LakehouseJob.tick(spark, p, tickDf(1 to 100, 100.0),
      Seq("k", "price"), audits).published)
    val before = spark.read.parquet(p.table).count()
    val bad = tickDf(101 to 200, 100.0)
      .withColumn("price", lit(-5.0)) // fails in_range
    val r = LakehouseJob.tick(spark, p, bad, Seq("k", "price"), audits)
    assert(r.admitted && !r.published &&
      r.failedAudits == Seq("in_range(price)"))
    assert(spark.read.parquet(p.table).count() == before)
    assert(CatalogStore.catalogVersions(spark, p.snapshots) == Seq(1))
  }

  test("schema drift (retype) is refused before anything is written") {
    val p = paths()
    assert(LakehouseJob.tick(spark, p, tickDf(1 to 100, 100.0),
      Seq("k", "price"), audits).published)
    val retyped = tickDf(101 to 200, 100.0)
      .withColumn("price", col("price").cast("string"))
    val r = LakehouseJob.tick(spark, p, retyped, Seq("k", "price"), audits)
    assert(!r.admitted && !r.published &&
      r.driftViolations.exists(d =>
        d.column == "price" && d.status == "retyped"))
    assert(spark.read.parquet(p.table).count() == 100)
  }

  test("fragmentation past maxFiles triggers optimize and the index rebuilds") {
    val p = paths()
    // many small ticks → many files; low maxFiles forces the rewrite
    (1 to 4).foreach { i =>
      val r = LakehouseJob.tick(spark, p,
        tickDf((i * 100 - 99) to (i * 100), 100.0),
        Seq("k", "price"), audits, maxFiles = 3)
      assert(r.published)
      if (i >= 2) assert(r.optimizedToFiles.isDefined,
        s"tick $i should have optimized")
    }
    // index still covers exactly the live files after rewrites
    assert(spark.read.parquet(p.index).count() ==
      spark.read.parquet(p.table).select(col("_metadata.file_path"))
        .distinct().count())
    val got = LakehouseJob.readServing(spark, p,
      Seq(Layout.Range("price", 0.0, 1e6)))
    assert(got.count() == 400)
  }
}
