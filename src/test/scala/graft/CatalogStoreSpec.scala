package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.CatalogStore
import graft.sources.CatalogStore.{Audit, Snapshot}
import graft.sources.Tables

class CatalogStoreSpec extends SparkSpec {

  import spark.implicits._

  private lazy val orders = Tables.load(spark, sfDir, "orders")
    .select("o_orderkey", "o_custkey", "o_totalprice")

  test("commit/read lifecycle: carry-forward, snapshot time travel") {
    val root = Files.createTempDirectory("cat").toString
    val a1 = orders.filter(col("o_orderkey") % 2 === 0)
    val b1 = orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    val tx1 = CatalogStore.commit(spark, root, Map("a" -> a1, "b" -> b1))
    assert(tx1 == CatalogStore.CatalogTx(Some(1), None))
    // tx2 touches only `a`; `b` carries forward at v1
    val a2 = orders.filter(col("o_orderkey") % 2 === 1)
    assert(CatalogStore.commit(spark, root, Map("a" -> a2))
      .version.contains(2))
    val snap = CatalogStore.snapshot(spark, root)
    assert(snap == Snapshot(2, Map("a" -> 2, "b" -> 1)))
    assertSameRows(CatalogStore.read(spark, root, "a", snap), a2.toDF())
    assertSameRows(CatalogStore.read(spark, root, "b", snap), b1.toDF())
    // catalog time travel: AS OF tx1 every table reads as of tx1
    val old = CatalogStore.snapshot(spark, root, Some(1))
    assert(old == Snapshot(1, Map("a" -> 1, "b" -> 1)))
    assertSameRows(CatalogStore.read(spark, root, "a", old), a1.toDF())
    // unknown table / unresolved catalog fail loudly
    intercept[IllegalArgumentException] {
      CatalogStore.read(spark, root, "nope", snap)
    }
    intercept[IllegalStateException] {
      CatalogStore.snapshot(spark, Files.createTempDirectory("e").toString)
    }
  }

  test("failing audit rolls back EVERY staged table and the claim") {
    val root = Files.createTempDirectory("catw").toString
    CatalogStore.commit(spark, root, Map(
      "a" -> orders.limit(100), "b" -> orders.limit(50)))
    val pre = CatalogStore.snapshot(spark, root)
    // second tx: `a` passes its audit, `b` fails — ALL of it rolls back
    val tx = CatalogStore.commit(spark, root,
      Map("a" -> orders.limit(10), "b" -> orders.limit(5)),
      audits = Seq(
        Audit("a_nonempty", "a", _.count() > 0),
        Audit("b_big_enough", "b", _.count() >= 50)))
    assert(tx == CatalogStore.CatalogTx(None, Some("b_big_enough")))
    // pointer, catalog map, and table bytes all unchanged
    assert(CatalogStore.snapshot(spark, root) == pre)
    assert(CatalogStore.catalogVersions(spark, root) == Seq(1))
    assert(CatalogStore.read(spark, root, "a", pre).count() == 100)
    // staged dirs gone: the next commit reuses the number cleanly
    assert(CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
      .version.contains(2))
    // audits may only name tables in the transaction
    intercept[IllegalArgumentException] {
      CatalogStore.commit(spark, root, Map("a" -> orders.limit(1)),
        audits = Seq(Audit("x", "b", _ => true)))
    }
  }

  test("vacuum: refcounted over kept catalogs — carried-forward table " +
      "versions survive, unreferenced ones and old catalogs go") {
    val root = Files.createTempDirectory("catv").toString
    val b1 = orders.limit(50)
    CatalogStore.commit(spark, root, Map(
      "a" -> orders.limit(100), "b" -> b1))          // cat 1: a1, b1
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(80))) // 2
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(60))) // 3
    val vac = CatalogStore.vacuum(spark, root, keep = 1)
    assert(vac.catalogs == Seq(1, 2))
    // a's superseded versions go; b's v1 is CARRIED by catalog 3 and
    // must survive although catalog 1 (its commit) was dropped
    assert(vac.tableVersions == Map("a" -> Seq(1, 2)))
    assert(CatalogStore.catalogVersions(spark, root) == Seq(3))
    val snap = CatalogStore.snapshot(spark, root)
    assert(snap.tables == Map("a" -> 3, "b" -> 1))
    assert(CatalogStore.read(spark, root, "a", snap).count() == 60)
    assertSameRows(CatalogStore.read(spark, root, "b", snap), b1.toDF())
    // dropped history is unreadable, loudly
    intercept[Exception] {
      CatalogStore.snapshot(spark, root, Some(1))
    }
    // the pointer target always survives, even with keep = 1 after
    // a rollback-like state; and vacuum is idempotent
    val again = CatalogStore.vacuum(spark, root, keep = 1)
    assert(again.catalogs.isEmpty && again.tableVersions.isEmpty)
  }

  test("same-version racers collide on the claim, loudly") {
    val root = Files.createTempDirectory("catr").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    // simulate the loser: the winner's claim marker for 2 already exists
    // (through commit() a planted claim is waited on, then times out —
    // the race is two writers computing the SAME next, so meet there)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root, "_cat/claim=2"), false).close()
    val e = intercept[IllegalStateException] {
      CatalogStore.commitAs(spark, root, Map("a" -> orders.limit(5)),
        Seq.empty, 2)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the loser rolled nothing back that the winner staged: claim intact
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_cat/claim=2")))
    // readers are unaffected throughout
    assert(CatalogStore.snapshot(spark, root).version == 1)
  }

  test("racer loser retries: both commits land, history linear") {
    val root = Files.createTempDirectory("catrr").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    // two genuinely concurrent writers of disjoint tables; the claim
    // serializes them, the loser's bounded retry re-reads and re-claims
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = Seq(
      ("b", orders.limit(20)), ("c", orders.limit(30))).map {
      case (name, df) => new Thread(() =>
        try CatalogStore.commit(spark, root, Map(name -> df))
        catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"a racer failed: ${errs}")
    // linear history: 3 committed catalogs, final map has all tables
    assert(CatalogStore.catalogVersions(spark, root) == Seq(1, 2, 3))
    val snap = CatalogStore.snapshot(spark, root)
    assert(snap.version == 3)
    assert(snap.tables.keySet == Set("a", "b", "c"))
    assert(CatalogStore.read(spark, root, "b", snap).count() == 20)
    assert(CatalogStore.read(spark, root, "c", snap).count() == 30)
  }

  test("a crashed commit's leftover c=N.tmp does not brick the store") {
    val root = Files.createTempDirectory("cattmp").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a JVM crash between the tmp create and its rename
    fs.create(new org.apache.hadoop.fs.Path(root, "_cat/c=2.tmp"), false)
      .close()
    // ...and a stale pointer tmp naming a bogus version: the next
    // flip overwrites it and lands
    val ptrTmp = fs.create(
      new org.apache.hadoop.fs.Path(root, "_cat_current.tmp.2"), false)
    ptrTmp.write("999".getBytes("UTF-8")); ptrTmp.close()
    assert(CatalogStore.catalogVersions(spark, root) == Seq(1))
    assert(CatalogStore.commit(spark, root, Map("a" -> orders.limit(5)))
      .version.contains(2))
    assert(CatalogStore.currentVersion(spark, root).contains(2))
    assert(CatalogStore.vacuum(spark, root, keep = 1).catalogs == Seq(1))
  }

  test("crashed claim: commits block loudly, vacuum sweeps it, then " +
      "the sequence resumes at the freed number") {
    val root = Files.createTempDirectory("catcr").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a dead writer's claim at current+1 — plus its staged dir
    fs.create(new org.apache.hadoop.fs.Path(root, "_cat/claim=2"), false)
      .close()
    orders.limit(3).write.parquet(s"$root/a/v=2")
    intercept[CatalogStore.CommitContentionException] {
      CatalogStore.commit(spark, root, Map("a" -> orders.limit(5)),
        contentionTimeoutMs = 200L)
    }
    // claimAgeMs = 0: the operator asserts the no-in-flight contract,
    // so the just-planted claim sweeps immediately
    val vac = CatalogStore.vacuum(spark, root, keep = 5, claimAgeMs = 0L)
    assert(vac.catalogs == Seq(2)) // the crashed claim, despite keep=5
    assert(vac.tableVersions == Map("a" -> Seq(2))) // its staged dir
    assert(CatalogStore.commit(spark, root, Map("a" -> orders.limit(5)))
      .version.contains(2))
    assert(CatalogStore.read(spark, root, "a",
      CatalogStore.snapshot(spark, root)).count() == 5)
  }

  test("history: one row per (catalog, table) with carry-forward " +
      "versions and the pointer flagged current") {
    val root = Files.createTempDirectory("cath").toString
    CatalogStore.commit(spark, root, Map(
      "a" -> orders.limit(10), "b" -> orders.limit(5)))
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(3)))
    val h = CatalogStore.history(spark, root)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getInt(4))).toSet
    assert(h == Set(
      (1, "main", 0, "a", 1), (1, "main", 0, "b", 1),
      (2, "main", 1, "a", 2), (2, "main", 1, "b", 1)))
  }

  test("stage-once: contention retries are metadata-only — the table's " +
      "data is computed and written exactly once") {
    val root = Files.createTempDirectory("cats1").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hold version 2 with a foreign claim so the committer spins
    val claim = new org.apache.hadoop.fs.Path(root, "_cat/claim=2")
    fs.create(claim, false).close()
    StageCounter.n.set(0L)
    val counted = udf((x: Long) => {
      StageCounter.n.incrementAndGet(); x
    }).asNondeterministic()
    val df = spark.range(100).select(counted(col("id")).as("k"))
    val res = new java.util.concurrent.atomic.AtomicReference[CatalogStore.CatalogTx]
    val t = new Thread(() => res.set(CatalogStore.commit(spark, root,
      Map("b" -> df), contentionTimeoutMs = 20000L)))
    t.start()
    // wait for staging to finish (the _SUCCESS marker), then hold the
    // claim long enough that the loop must fail at least one attempt
    // (attempt backoff caps at 500ms)
    val stagedBy = System.currentTimeMillis + 30000
    def stageDone(): Boolean = {
      val bDir = new org.apache.hadoop.fs.Path(root, "b")
      fs.exists(bDir) && fs.listStatus(bDir).exists(d =>
        d.getPath.getName.startsWith(".stage=") &&
          fs.exists(new org.apache.hadoop.fs.Path(d.getPath, "_SUCCESS")))
    }
    while (!stageDone() && System.currentTimeMillis < stagedBy)
      Thread.sleep(20)
    assert(stageDone(), "staging never appeared")
    Thread.sleep(700)
    fs.delete(claim, false)
    t.join(30000)
    assert(res.get != null && res.get.version.contains(2), s"got ${res.get}")
    // the whole point: contention retried the METADATA, not the job
    assert(StageCounter.n.get == 100L,
      s"data evaluated ${StageCounter.n.get} times — restaged on retry?")
    assert(CatalogStore.read(spark, root, "b",
      CatalogStore.snapshot(spark, root)).count() == 100)
  }

  test("a complete-but-unflipped commit does not block others: the " +
      "frontier walk lands past it and the held writer is INCLUDED") {
    val root = Files.createTempDirectory("catfw").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    val completed = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    CatalogStore.beforeFlip = v => if (v == 2) {
      completed.countDown()
      release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    try {
      val aRes = new java.util.concurrent.atomic.AtomicReference[CatalogStore.CatalogTx]
      val tA = new Thread(() => aRes.set(CatalogStore.commit(spark, root,
        Map("b" -> orders.limit(20)))))
      tA.start()
      assert(completed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never reached the flip window")
      // A's transaction is complete at version 2 but unflipped; B must
      // land WITHOUT waiting for A (no timeout-bounded blocking)
      val tB = CatalogStore.commit(spark, root,
        Map("c" -> orders.limit(30)), contentionTimeoutMs = 8000L)
      assert(tB.version.contains(3), s"B got $tB")
      assert(CatalogStore.currentVersion(spark, root).contains(3))
      assert(tA.isAlive, "B must not have needed A's flip to land")
      release.countDown()
      tA.join(30000)
      // A's refused flip is INCLUSION, not failure: B's carry-forward
      // built on A's complete catalog
      assert(aRes.get != null && aRes.get.version.contains(2),
        s"A got ${aRes.get}")
      val snap = CatalogStore.snapshot(spark, root)
      assert(snap.version == 3 &&
        snap.tables == Map("a" -> 1, "b" -> 2, "c" -> 3))
      assert(CatalogStore.read(spark, root, "b", snap).count() == 20)
      assert(CatalogStore.read(spark, root, "c", snap).count() == 30)
    } finally {
      CatalogStore.beforeFlip = _ => ()
      release.countDown()
    }
  }

  test("first-commit crash is recoverable in-repo: vacuum's no-pointer " +
      "sweep frees a dead claim; a complete catalog rolls FORWARD") {
    // (a) crash BEFORE the catalog file: claim=1, no pointer — commits
    // collide forever; the no-pointer vacuum sweeps and the store is
    // cleanly unpublished again
    val rootA = Files.createTempDirectory("catfc").toString
    val fsA = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsA.mkdirs(new org.apache.hadoop.fs.Path(rootA, "_cat"))
    fsA.create(new org.apache.hadoop.fs.Path(rootA, "_cat/claim=1"),
      false).close()
    intercept[CatalogStore.CommitContentionException] {
      CatalogStore.commit(spark, rootA, Map("a" -> orders.limit(5)),
        contentionTimeoutMs = 300L)
    }
    val vac = CatalogStore.vacuum(spark, rootA, keep = 1, claimAgeMs = 0L)
    assert(vac.catalogs == Seq(1))
    assert(CatalogStore.commit(spark, rootA, Map("a" -> orders.limit(5)))
      .version.contains(1))
    assert(CatalogStore.snapshot(spark, rootA).version == 1)
    // (b) crash AFTER the catalog file completed but before the flip:
    // the next commit's frontier walk builds on it — the crashed
    // transaction lands
    val rootB = Files.createTempDirectory("catfd").toString
    val fsB = new org.apache.hadoop.fs.Path(rootB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    orders.limit(7).write.parquet(s"$rootB/a/v=1")
    fsB.create(new org.apache.hadoop.fs.Path(rootB, "_cat/claim=1"),
      false).close()
    val o = fsB.create(new org.apache.hadoop.fs.Path(rootB, "_cat/c=1"),
      false)
    try o.write("1\na\t1".getBytes("UTF-8")) finally o.close()
    val tx = CatalogStore.commit(spark, rootB, Map("b" -> orders.limit(3)))
    assert(tx.version.contains(2))
    val snap = CatalogStore.snapshot(spark, rootB)
    assert(snap.tables == Map("a" -> 1, "b" -> 2))
    assert(CatalogStore.read(spark, rootB, "a", snap).count() == 7)
  }

  test("vacuum never sweeps a YOUNG above-pointer claim or its staged " +
      "data — a live in-flight commit survives; claimAgeMs=0 overrides") {
    val root = Files.createTempDirectory("catlv").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate an in-flight commit mid-publish: fresh claim, data
    // already renamed to its version dir
    fs.create(new org.apache.hadoop.fs.Path(root, "_cat/claim=2"), false)
      .close()
    orders.limit(3).write.parquet(s"$root/a/v=2")
    val vac = CatalogStore.vacuum(spark, root, keep = 5)
    assert(!vac.catalogs.contains(2),
      "a young claim must survive the default-age vacuum")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_cat/claim=2")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "a/v=2")),
      "the live commit's staged version dir must survive")
    // the operator asserting no-in-flight sweeps immediately
    val hard = CatalogStore.vacuum(spark, root, keep = 5, claimAgeMs = 0L)
    assert(hard.catalogs == Seq(2))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "a/v=2")))
  }

  test("pointer only moves forward: a stale writer rolls back as " +
      "contention instead of dropping newer commits") {
    val root = Files.createTempDirectory("catfwd").toString
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(10)))
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(20)))
    CatalogStore.commit(spark, root, Map("a" -> orders.limit(30)))
    CatalogStore.vacuum(spark, root, keep = 1) // frees claim number 2
    val pre = CatalogStore.snapshot(spark, root)
    // a writer that somehow claims a number BELOW the pointer (the
    // overlap where a later claimer flipped first) must not flip back
    intercept[CatalogStore.CommitContentionException] {
      CatalogStore.commitAs(spark, root, Map("a" -> orders.limit(5)),
        Seq.empty, 2)
    }
    assert(CatalogStore.snapshot(spark, root) == pre)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // its claim, staged dir, and catalog file all rolled back
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_cat/c=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_cat/claim=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "a/v=2")))
  }

  test("schema enforcement: silent widening rejected, explicit evolve " +
      "lands, drop/retype always rejected, order not contractual") {
    val root = Files.createTempDirectory("catsch").toString
    val base = orders.limit(50)
    CatalogStore.commit(spark, root, Map("t" -> base))
    val widened = base.withColumn("flag", lit(1))
    // default = enforcement: the silently-grown upstream job fails
    val e = intercept[CatalogStore.SchemaEvolutionException] {
      CatalogStore.commit(spark, root, Map("t" -> widened))
    }
    assert(e.getMessage.contains("evolve = true") &&
      e.getMessage.contains("flag"))
    // rejected BEFORE any metadata moved: store byte-identical
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(CatalogStore.snapshot(spark, root).version == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "t/v=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_cat/claim=2")))
    // explicit evolution lands; each version serves its OWN schema
    assert(CatalogStore.commit(spark, root, Map("t" -> widened),
      evolve = true).version.contains(2))
    val v1 = CatalogStore.snapshot(spark, root, Some(1))
    assert(CatalogStore.read(spark, root, "t", v1).columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(CatalogStore.read(spark, root, "t",
      CatalogStore.snapshot(spark, root)).columns.contains("flag"))
    // dropping a committed column: rejected even under evolve
    intercept[CatalogStore.SchemaEvolutionException] {
      CatalogStore.commit(spark, root,
        Map("t" -> widened.drop("o_custkey")), evolve = true)
    }
    // retyping a committed column: rejected even under evolve
    intercept[CatalogStore.SchemaEvolutionException] {
      CatalogStore.commit(spark, root,
        Map("t" -> widened.withColumn("flag", lit("x"))), evolve = true)
    }
    assert(CatalogStore.snapshot(spark, root).version == 2)
    // column ORDER is not contractual (parquet resolves by name)
    assert(CatalogStore.commit(spark, root, Map("t" -> widened
      .select("flag", "o_totalprice", "o_custkey", "o_orderkey")))
      .version.contains(3))
    // a table the transaction does not touch is never checked
    assert(CatalogStore.commit(spark, root,
      Map("other" -> base.select("o_orderkey"))).version.contains(4))
  }

  test("metaAgg serves count/nulls/min/max from the sidecar: typed " +
      "bounds (no lexicographic trap), typed NULL for all-null, no scan") {
    val root = Files.createTempDirectory("catmeta").toString
    // 9/10/100 is the lexicographic trap: string min = "10", string
    // max = "99"-shaped; typed stats must record 9 and 100
    val df = Seq[(Int, Option[String], Option[Double])](
        (9, Some("b"), None), (10, Some("a"), None), (100, None, None))
      .toDF("k", "name", "empty")
    CatalogStore.commit(spark, root, Map("t" -> df))
    val snap = CatalogStore.snapshot(spark, root)
    CatalogStore.analyze(spark, root, snap)
    val ma = CatalogStore.metaAgg(spark, root, snap, "t",
      Seq("k", "name", "empty"))
    // metadata-only: the plan is a local relation, zero scans
    assert(ma.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val r = ma.collect()(0)
    assert(r.getAs[Long]("row_count") == 3L)
    assert(r.getAs[Long]("nulls_k") == 0L &&
      r.getAs[Long]("nulls_name") == 1L &&
      r.getAs[Long]("nulls_empty") == 3L)
    assert(r.getAs[Int]("min_k") == 9 && r.getAs[Int]("max_k") == 100)
    assert(r.getAs[String]("min_name") == "a" &&
      r.getAs[String]("max_name") == "b")
    assert(r.isNullAt(r.fieldIndex("min_empty")) &&
      r.isNullAt(r.fieldIndex("max_empty")))
    // answers ≡ the full-scan aggregates, column types included
    val scan = CatalogStore.read(spark, root, "t", snap)
      .agg(count(lit(1)).as("row_count"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("nulls_k"),
        sum(when(col("name").isNull, 1L).otherwise(0L)).as("nulls_name"),
        sum(when(col("empty").isNull, 1L).otherwise(0L)).as("nulls_empty"),
        min("k").as("min_k"), max("k").as("max_k"),
        min("name").as("min_name"), max("name").as("max_name"),
        min("empty").as("min_empty"), max("empty").as("max_empty"))
    assertSameRows(ma.selectExpr(scan.columns.map(c =>
      s"CAST($c AS STRING) AS $c").toIndexedSeq: _*),
      scan.selectExpr(scan.columns.map(c =>
        s"CAST($c AS STRING) AS $c").toIndexedSeq: _*))
    // unanalyzed snapshot fails loudly, naming the fix
    val root2 = Files.createTempDirectory("catmeta2").toString
    CatalogStore.commit(spark, root2, Map("t" -> df))
    val e = intercept[IllegalArgumentException] {
      CatalogStore.metaAgg(spark, root2,
        CatalogStore.snapshot(spark, root2), "t", Seq("k"))
    }
    assert(e.getMessage.contains("analyze"))
  }

  test("indexTable + readWhere: catalog-integrated data skipping is " +
      "lossless, actually prunes, leaves plain reads untouched, and " +
      "is idempotent on the immutable version") {
    val root = Files.createTempDirectory("catidx").toString
    // range-partitioned write → tight per-file key boxes, so the
    // band predicate genuinely skips files
    CatalogStore.commit(spark, root, Map("t" ->
      orders.repartitionByRange(8, col("o_orderkey"))))
    val snap = CatalogStore.snapshot(spark, root)
    val plainBefore = CatalogStore.read(spark, root, "t", snap)
    val nBefore = plainBefore.count()
    CatalogStore.indexTable(spark, root, snap, "t", Seq("o_orderkey"))
    // the underscore sidecar is INVISIBLE to the plain read
    assert(CatalogStore.read(spark, root, "t", snap).count() == nBefore)
    val idx = CatalogStore.fileIndexOf(spark, root, snap, "t")
    assert(idx.isDefined && idx.get.count() == 8)
    // a band in the low key range + an unextractable conjunct
    val hi = orders.agg(percentile_approx(col("o_orderkey"),
      lit(0.12), lit(1000))).head().getLong(0)
    val pred = col("o_orderkey") <= hi && col("o_custkey") % 2 === 0
    val got = CatalogStore.readWhere(spark, root, "t", snap, pred)
    val want = CatalogStore.read(spark, root, "t", snap).filter(pred)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    // and it actually pruned: ≤ 2 of the 8 files survive the band
    assert(graft.operators.Layout.autoPruneFiles(spark,
      CatalogStore.tablePath(root, "t", snap), idx.get, pred)
      .exists(_.size <= 2))
    // idempotent on immutable data: second call rewrites nothing
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = new org.apache.hadoop.fs.Path(root,
      "t/v=1/_graft_fileindex")
    def listing() = fs.listStatus(sidecar)
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet
    val before = listing()
    CatalogStore.indexTable(spark, root, snap, "t", Seq("o_orderkey"))
    assert(listing() == before)
    // a table with NO index degrades to the plain filtered read
    CatalogStore.commit(spark, root, Map("u" -> orders.limit(100)))
    val snap2 = CatalogStore.snapshot(spark, root)
    val gotU = CatalogStore.readWhere(spark, root, "u", snap2,
      col("o_orderkey") % 3 === 0)
    val wantU = CatalogStore.read(spark, root, "u", snap2)
      .filter(col("o_orderkey") % 3 === 0)
    assert(gotU.exceptAll(wantU).count() == 0 &&
      wantU.exceptAll(gotU).count() == 0)
    // stats sidecar and file index coexist in the same version dir
    CatalogStore.analyze(spark, root, snap2)
    assert(CatalogStore.metaAgg(spark, root, snap2, "u",
      Seq("o_orderkey")).head().getAs[Long]("row_count") == 100L)
  }

  test("maintenance rides the commit: indexCols + analyzeStats " +
      "publish the file index and stats sidecar with the transaction") {
    val root = Files.createTempDirectory("catmaint").toString
    val fact = orders.repartitionByRange(8, col("o_orderkey"))
    val tx = CatalogStore.commit(spark, root,
      Map("f" -> fact, "d" -> orders.limit(30)),
      indexCols = Map("f" -> Seq("o_orderkey")), analyzeStats = true)
    assert(tx.committed)
    val snap = CatalogStore.snapshot(spark, root)
    // index on the requested table only; stats on every table
    assert(CatalogStore.fileIndexOf(spark, root, snap, "f").isDefined)
    assert(CatalogStore.fileIndexOf(spark, root, snap, "d").isEmpty)
    assert(CatalogStore.metaAgg(spark, root, snap, "d",
      Seq("o_orderkey")).head().getAs[Long]("row_count") == 30L)
    // and the skipping read works immediately, no separate job
    val hi = orders.agg(percentile_approx(col("o_orderkey"),
      lit(0.12), lit(1000))).head().getLong(0)
    val got = CatalogStore.readWhere(spark, root, "f", snap,
      col("o_orderkey") <= hi)
    val want = CatalogStore.read(spark, root, "f", snap)
      .filter(col("o_orderkey") <= hi)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    // a republish WITHOUT maintenance serves plain (no stale index
    // rides forward onto the new version)
    CatalogStore.commit(spark, root, Map("f" -> fact.limit(500)))
    val snap2 = CatalogStore.snapshot(spark, root)
    assert(CatalogStore.fileIndexOf(spark, root, snap2, "f").isEmpty)
    // the OLD version keeps its index (time travel still prunes)
    assert(CatalogStore.fileIndexOf(spark, root,
      CatalogStore.snapshot(spark, root, Some(1)), "f").isDefined)
    // indexCols naming a table outside the transaction is rejected
    intercept[IllegalArgumentException] {
      CatalogStore.commit(spark, root, Map("d" -> orders.limit(5)),
        indexCols = Map("f" -> Seq("o_orderkey")))
    }
    // ... and a typo'd COLUMN is rejected BEFORE anything stages —
    // failing after the flip would throw away a committed tx's
    // CatalogTx and bait a double-publish retry
    val vBefore = CatalogStore.snapshot(spark, root).version
    intercept[IllegalArgumentException] {
      CatalogStore.commit(spark, root, Map("d" -> orders.limit(5)),
        indexCols = Map("d" -> Seq("typo_col")))
    }
    assert(CatalogStore.snapshot(spark, root).version == vBefore)
  }

  test("stats sidecar: a real string value of \"-\" round-trips (the " +
      "None sentinel cannot collide) and metaAgg serves it") {
    val root = Files.createTempDirectory("catdash").toString
    // "-" as a live value is the dash-for-missing dataset; it is also
    // lexicographically tiny, so it IS the min — the old bare "-"
    // sentinel decoded it to NULL
    val df = Seq((1, "-"), (2, "x"), (3, "y")).toDF("k", "s")
    CatalogStore.commit(spark, root, Map("t" -> df))
    val snap = CatalogStore.snapshot(spark, root)
    CatalogStore.analyze(spark, root, snap)
    val m = CatalogStore.metaAgg(spark, root, snap, "t", Seq("s"))
      .head()
    assert(m.getAs[String]("min_s") == "-" &&
      m.getAs[String]("max_s") == "y")
  }

  test("version-dir schema memo survives drop-and-recreate at the " +
      "same root (r14 staleness guard)") {
    val root = Files.createTempDirectory("catreuse").toString
    CatalogStore.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("k", "s")))
    // memoize t/v=1's schema under this path
    val snap1 = CatalogStore.snapshot(spark, root)
    assert(CatalogStore.read(spark, root, "t", snap1)
      .schema.fieldNames.toSeq == Seq("k", "s"))
    // drop the WHOLE store and rebuild at the SAME root: version
    // numbers restart, so t/v=1 reappears with a different schema
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    CatalogStore.commit(spark, root,
      Map("t" -> Seq((1.5, 7, "x")).toDF("price", "qty", "tag")))
    val snap2 = CatalogStore.snapshot(spark, root)
    val got = CatalogStore.read(spark, root, "t", snap2)
    assert(got.schema.fieldNames.toSeq == Seq("price", "qty", "tag"))
    assert(got.collect().map(_.toSeq).toSeq ==
      Seq(Seq(1.5, 7, "x")))
  }
}

/** Executor-side write counter for the stage-once spec — a top-level
  * object so the udf closure re-resolves the SAME static on
  * deserialization (local mode still serializes task closures).
  */
object StageCounter {
  val n = new java.util.concurrent.atomic.AtomicLong(0L)
}
