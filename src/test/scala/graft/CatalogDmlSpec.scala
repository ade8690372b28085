package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.CatalogStore
import graft.sources.CatalogStore.{Constraint, ConstraintViolationException}
import graft.sources.Tables

/** The DML + maintenance surface over the transactional catalog:
  * upsert (MERGE INTO), deleteWhere, optimizeTable — each a derived
  * single-table transaction whose loop RE-DERIVES when a concurrent
  * writer moves the base version (the lost-update race Delta answers
  * with ConcurrentModificationException; here the derivation replays).
  */
class CatalogDmlSpec extends SparkSpec {

  import spark.implicits._

  private lazy val orders = Tables.load(spark, sfDir, "orders")
    .select("o_orderkey", "o_custkey", "o_totalprice")

  test("upsert: matched keys replace, new keys append, history intact, " +
      "missing table = first publish") {
    val root = Files.createTempDirectory("dmlu").toString
    val base = Seq((1, 10L), (2, 20L), (3, 30L)).toDF("k", "cents")
    CatalogStore.commit(spark, root, Map("t" -> base))
    val updates = Seq((2, 99L), (4, 40L)).toDF("k", "cents")
    val tx = CatalogStore.upsertTable(spark, root, "t", updates,
      keys = Seq("k"))
    assert(tx.version.contains(2))
    val snap = CatalogStore.snapshot(spark, root)
    assertSameRows(CatalogStore.read(spark, root, "t", snap),
      Seq((1, 10L), (2, 99L), (3, 30L), (4, 40L)).toDF("k", "cents"))
    // the pre-upsert version still serves its own bytes
    assertSameRows(CatalogStore.read(spark, root, "t",
      CatalogStore.snapshot(spark, root, Some(1))), base)
    // upsert into a table that does not exist yet = plain publish
    val tx2 = CatalogStore.upsertTable(spark, root, "fresh", updates,
      keys = Seq("k"))
    assert(tx2.committed)
    assertSameRows(CatalogStore.read(spark, root, "fresh",
      CatalogStore.snapshot(spark, root)), updates)
    // key column must exist in the updates
    intercept[IllegalArgumentException] {
      CatalogStore.upsertTable(spark, root, "t", updates, Seq("nope"))
    }
    // the catalog-format name guard covers the FIRST-publish path
    // too (a tab would brick every later snapshot's split-parse; a
    // leading '#' would vanish into the header namespace)
    intercept[IllegalArgumentException] {
      CatalogStore.upsertTable(spark, root, "a\tb", updates, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      CatalogStore.upsertTable(spark, root, "#bad", updates, Seq("k"))
    }
    assert(CatalogStore.snapshot(spark, root).tables.keySet ==
      Set("t", "fresh"))
  }

  test("deleteWhere: TRUE rows go, FALSE and NULL rows stay (SQL " +
      "DELETE semantics)") {
    val root = Files.createTempDirectory("dmld").toString
    val base = Seq((1, Some(5L)), (2, Some(-5L)), (3, None: Option[Long]))
      .toDF("k", "v")
    CatalogStore.commit(spark, root, Map("t" -> base))
    CatalogStore.deleteWhere(spark, root, "t", col("v") < 0)
    assertSameRows(
      CatalogStore.read(spark, root, "t",
        CatalogStore.snapshot(spark, root)),
      Seq((1, Some(5L)), (3, None: Option[Long])).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      CatalogStore.deleteWhere(spark, root, "nope", col("v") < 0)
    }
  }

  test("upsert enforces the persisted constraints on the MERGED " +
      "result; a violating update rejects and the store is unchanged") {
    val root = Files.createTempDirectory("dmlc").toString
    CatalogStore.commit(spark, root,
      Map("t" -> Seq((1, 10L), (2, 20L)).toDF("k", "cents")))
    CatalogStore.addConstraints(spark, root, Seq(
      Constraint.check("t", "cents_pos", "cents >= 0"),
      Constraint.unique("t", Seq("k"))))
    val pre = CatalogStore.snapshot(spark, root)
    intercept[ConstraintViolationException] {
      CatalogStore.upsertTable(spark, root, "t",
        Seq((2, -1L)).toDF("k", "cents"), Seq("k"))
    }
    assert(CatalogStore.snapshot(spark, root) == pre)
    // a clean upsert keeps UNIQUE satisfied by construction (matched
    // keys replace) and lands
    assert(CatalogStore.upsertTable(spark, root, "t",
      Seq((2, 21L)).toDF("k", "cents"), Seq("k")).committed)
  }

  test("derived CAS: a concurrent commit between staging and claiming " +
      "triggers RE-derivation — the lost update cannot happen") {
    val root = Files.createTempDirectory("dmlr").toString
    CatalogStore.commit(spark, root,
      Map("t" -> Seq((1, 10L)).toDF("k", "cents")))
    val derivedFor = scala.collection.mutable.ArrayBuffer[Option[Int]]()
    var interfered = false
    CatalogStore.commitDerived(spark, root, "t", "main",
      contentionTimeoutMs = 60000L, evolve = false, enforce = false) {
      (base, _, dst) =>
        derivedFor += base
        if (!interfered) {
          interfered = true
          // the concurrent writer lands v2 of t AFTER we read base=v1
          CatalogStore.commit(spark, root,
            Map("t" -> Seq((1, 11L), (5, 50L)).toDF("k", "cents")))
        }
        // the derivation doubles cents of whatever the base serves
        val src = spark.read.parquet(s"$root/t/v=${base.get}")
        src.withColumn("cents", col("cents") * 2)
          .write.mode("errorifexists").parquet(dst)
    }
    // first derivation saw v1, the loop detected v2 and re-derived
    assert(derivedFor.toSeq == Seq(Some(1), Some(2)))
    // what landed is a derivation OF v2 — the concurrent writer's
    // rows survived, doubled; a stale v1 derivation would have lost k=5
    assertSameRows(
      CatalogStore.read(spark, root, "t",
        CatalogStore.snapshot(spark, root)),
      Seq((1, 22L), (5, 100L)).toDF("k", "cents"))
  }

  test("changesBetween: DML history classifies added/removed/" +
      "modified/unchanged; carried-forward versions skip the join") {
    val root = Files.createTempDirectory("dmlcdf").toString
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "content")
    CatalogStore.commit(spark, root,
      Map("t" -> base, "dim" -> Seq((7, "z")).toDF("k", "content")))
    CatalogStore.upsertTable(spark, root, "t",
      Seq((2, "B"), (4, "d")).toDF("k", "content"), Seq("k"))
    CatalogStore.deleteWhere(spark, root, "t", col("k") === 1)
    assertSameRows(
      CatalogStore.changesBetween(spark, root, "t", 1, 3,
        "k", "content"),
      Seq((1, "removed"), (2, "modified"), (3, "unchanged"),
        (4, "added")).toDF("k", "status"))
    // backward: the rollback-audit direction swaps added/removed
    assertSameRows(
      CatalogStore.changesBetween(spark, root, "t", 3, 1,
        "k", "content"),
      Seq((1, "added"), (2, "modified"), (3, "unchanged"),
        (4, "removed")).toDF("k", "status"))
    // dim rode carry-forward: same version both ends → join-free
    // all-unchanged projection
    val carried = CatalogStore.changesBetween(spark, root, "dim",
      1, 3, "k", "content")
    assert(carried.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty)
    assertSameRows(carried, Seq((7, "unchanged")).toDF("k", "status"))
    // the feed reads version dirs, not the pointer: a restore leaves
    // an already-committed pair's feed unchanged
    CatalogStore.restore(spark, root, 1)
    assertSameRows(
      CatalogStore.changesBetween(spark, root, "t", 1, 3,
        "k", "content"),
      Seq((1, "removed"), (2, "modified"), (3, "unchanged"),
        (4, "added")).toDF("k", "status"))
  }

  test("restore: a data-free FORWARD commit republishes an older " +
      "catalog's map, constraints, and renames") {
    val root = Files.createTempDirectory("dmlres").toString
    val good = Seq((1, 10L), (2, 20L)).toDF("k", "cents")
    CatalogStore.commit(spark, root, Map("t" -> good,
      "dim" -> Seq((7, "z")).toDF("k", "s")))          // v1
    CatalogStore.addConstraints(spark, root, Seq(
      CatalogStore.Constraint.check("t", "c_pos", "cents >= 0"))) // v2
    // the regrettable era: delete + a new table + drop the constraint
    CatalogStore.deleteWhere(spark, root, "t", col("k") === 1) // v3
    CatalogStore.dropConstraint(spark, root, "t", "c_pos")     // v4
    CatalogStore.commit(spark, root,
      Map("oops" -> Seq((0, 0L)).toDF("k", "cents")))          // v5
    val tx = CatalogStore.restore(spark, root, 2)
    assert(tx.version.contains(6))
    val snap = CatalogStore.snapshot(spark, root)
    // the WHOLE map restored: t at v1's dir, dim carried, oops GONE
    assert(snap.tables == Map("t" -> 1, "dim" -> 1))
    assertSameRows(CatalogStore.read(spark, root, "t", snap), good)
    // metadata restored too: the constraint bites again
    assert(CatalogStore.constraintsOf(spark, root, snap)
      .map(_.name) == Seq("c_pos"))
    intercept[CatalogStore.ConstraintViolationException] {
      CatalogStore.upsertTable(spark, root, "t",
        Seq((9, -1L)).toDF("k", "cents"), Seq("k"))
    }
    // forward, not rewind: the botched history is still auditable
    assert(CatalogStore.snapshot(spark, root, Some(5)).tables
      .contains("oops"))
    // and restoring forward to the newest works symmetrically
    CatalogStore.restore(spark, root, 5)
    assert(CatalogStore.snapshot(spark, root).tables.contains("oops"))
    // a restore to a version that does not exist fails loudly and
    // publishes nothing
    val beforeBad = CatalogStore.snapshot(spark, root)
    intercept[Exception] { CatalogStore.restore(spark, root, 99) }
    assert(CatalogStore.snapshot(spark, root) == beforeBad)
    // a commit after a restore never reuses a live number: t's new
    // version lands above every version dir t has
    val dirs = new java.io.File(root, "t").list()
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt)
    val next = CatalogStore.commit(spark, root, Map("t" -> good)).version.get
    assert(dirs.nonEmpty && dirs.forall(_ < next))
    assert(CatalogStore.snapshot(spark, root).tables("t") == next)
  }

  test("optimizeTable: small files compact into a new version, rows " +
      "identical, pre-optimize version byte-untouched; zorder mode; " +
      "partitioned auto-detect") {
    val root = Files.createTempDirectory("dmlo").toString
    // seg is INT on purpose: hive partition-value inference reads
    // small integral dir values back as int, and the catalog's schema
    // contract (correctly) rejects a bigint→int retype — partition
    // columns should be declared in the type inference round-trips
    val base = orders.limit(2000)
      .withColumn("seg", (col("o_custkey") % 8).cast("int"))
    // 16 deliberately tiny files — the streaming-append shape
    CatalogStore.commit(spark, root, Map("t" -> base.repartition(16)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles(v: Int) = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, s"t/v=$v"))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(nFiles(1) == 16)
    val tx = CatalogStore.optimizeTable(spark, root, "t",
      targetMb = 128)
    assert(tx.version.contains(2))
    assert(nFiles(2) < 16)
    val snap = CatalogStore.snapshot(spark, root)
    assertSameRows(CatalogStore.read(spark, root, "t", snap),
      base.toDF())
    // time travel: the un-optimized layout still serves
    assert(nFiles(1) == 16)
    assertSameRows(CatalogStore.read(spark, root, "t",
      CatalogStore.snapshot(spark, root, Some(1))), base.toDF())
    // zorder clustering into a partitioned layout
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "seg")
    val tx2 = CatalogStore.optimizeTable(spark, root, "t",
      targetMb = 128, zorderCols = Seq("o_orderkey", "o_custkey"),
      partitionBy = Seq("seg"))
    assert(tx2.committed)
    assertSameRows(CatalogStore.read(spark, root, "t",
      CatalogStore.snapshot(spark, root))
      .select(cols.map(col): _*), base.select(cols.map(col): _*))
    // and a compaction over the now-PARTITIONED version dir routes
    // through compactPartitioned (auto-detect), rows identical
    val tx3 = CatalogStore.optimizeTable(spark, root, "t",
      targetMb = 128)
    assert(tx3.committed)
    assertSameRows(CatalogStore.read(spark, root, "t",
      CatalogStore.snapshot(spark, root))
      .select(cols.map(col): _*), base.select(cols.map(col): _*))
    // optimizing a missing table is loud
    intercept[IllegalArgumentException] {
      CatalogStore.optimizeTable(spark, root, "nope")
    }
  }
}
