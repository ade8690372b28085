package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table transactional catalog — the store tier's one
  * versioned-publish protocol (a single-table versioned store is a
  * one-table catalog: `commit(root, Map(name -> df))`), and the
  * cross-TABLE atomicity layer [[AnalysisStore.writeAuditPublish]]
  * (one write) stops short of: one commit publishes N tables and a
  * reader can NEVER observe a mix of old-A with new-B (the
  * Nessie/"multi-table transaction" gap in first-generation
  * lakehouse formats — a report joining a fact to its
  * freshly-republished dim across a torn boundary is wrong in a way
  * no per-table guarantee can catch).
  *
  * Layout — immutability everywhere, one mutable pointer:
  * {{{
  * root/
  *   _cat/c=N        one immutable catalog file per transaction:
  *                   line 1 "N", then "table<TAB>version" rows
  *   _cat/claim=N    transient exclusive-claim marker (separate from
  *                   the catalog file — see [[claimFile]]); deleted
  *                   after the pointer flip, swept by vacuum if its
  *                   commit died
  *   _cat_current    one line "N" — THE pointer, rename-flipped
  *   <table>/v=M/    immutable table snapshots (M = the catalog
  *                   version whose transaction wrote them)
  *   <table>/.stage=<txid>/  tx-private staging, written once per
  *                   transaction and RENAMED to v=N at publish —
  *                   contention retries are metadata-only
  * }}}
  *
  * The commit protocol, stage-once / metadata-retry: write every
  * table's data ONCE to a tx-unique `.stage=<txid>` dir and run the
  * audits against it (write-audit-publish at transaction
  * granularity: one failing audit deletes every staging dir without
  * ever claiming a version or blocking another writer); then the
  * metadata-only publish — claim `_cat/claim=next` with an exclusive
  * create (two racers computing the same `next` collide HERE; the
  * loser retries METADATA only, never re-running the job that
  * computed the data), rename each staging dir to `v=next`, complete
  * the catalog file with a no-overwrite rename, and flip the pointer
  * forward-only through [[FsAtomic.putIfMatch]]. `next` comes from
  * the [[frontier]] walk: a version whose catalog file is complete
  * but unflipped is built upon immediately (its map is final), so
  * concurrent committers overlap on everything except the tiny
  * metadata step. A crash before the catalog file completes leaves
  * unreferenced dirs a later [[vacuum]] age-sweeps; a crash after it
  * is rolled FORWARD by the next commit's frontier walk (or
  * age-swept — either resolution of an unacknowledged transaction is
  * valid). Readers keep resolving the old catalog throughout:
  * all-old or all-new, never torn.
  *
  * Reads resolve the pointer ONCE into an immutable [[Snapshot]]
  * (catalog version + table→version map); every table read off one
  * snapshot is mutually consistent no matter how many commits land
  * meanwhile — MVCC snapshot isolation, catalog-versioned time
  * travel included (resolve an OLD catalog version and every table
  * reads as of that transaction). Tables untouched by a commit carry
  * their entry forward, so the catalog map always names a complete,
  * existing version per table.
  *
  * 100 TB shape: the catalog file is |tables| lines and the commit's
  * data cost is exactly the tables it rewrites — right for the
  * serving tier's analysis tables, with consistency spanning the
  * whole report surface.
  */
object CatalogStore {

  /** Resolved catalog state: reads off one snapshot are mutually
    * consistent (pointer resolved exactly once). `renames` is the
    * catalog's column-mapping metadata ([[renameColumn]]) — carried
    * here so [[read]] can apply it without re-reading the catalog
    * file per table.
    */
  final case class Snapshot(version: Int, tables: Map[String, Int],
      renames: Seq[Rename] = Seq.empty)

  /** One column rename, recorded at catalog version `atVersion`: it
    * applies to every table version WRITTEN BEFORE it (physical
    * column names are the logical names at write time; versions
    * committed after the rename already carry the new name in their
    * bytes). Iceberg solves this with per-file field ids; the
    * version-stamped rename chain is the same algebra over this
    * store's immutable version dirs — rename is METADATA-ONLY, no
    * rewrite, and time travel to a pre-rename catalog serves the old
    * name because old catalogs simply don't carry the rename.
    */
  final case class Rename(atVersion: Int, table: String,
      from: String, to: String)

  /** What a [[commit]] did: the new catalog version on success, or
    * the failing audit's name with every staged byte rolled back.
    */
  final case class CatalogTx(version: Option[Int],
      failedAudit: Option[String]) {
    def committed: Boolean = version.isDefined
  }

  /** A named audit against one STAGED table of the transaction. */
  final case class Audit(name: String, table: String,
      check: DataFrame => Boolean)

  /** A DECLARATIVE, catalog-persisted data contract on one table —
    * the Delta `ALTER TABLE ADD CONSTRAINT` tier a bare-path
    * lakehouse lacks. Unlike an [[Audit]] (a one-shot closure the
    * CALLER must remember to pass on every commit), a constraint
    * lives IN the catalog metadata, carries forward through every
    * transaction, and is enforced on every later commit, merge, and
    * constraint-add automatically — the 100 TB failure it closes is
    * the second pipeline (or the human with a notebook) that writes
    * the same table without the first pipeline's checks.
    *
    * Kinds:
    *  - `check`: `expr` is a BOOLEAN Spark SQL expression over the
    *    table's columns; a row violates only when it evaluates FALSE
    *    (NULL passes — ANSI CHECK semantics, `notNull` closes nulls
    *    explicitly);
    *  - `unique`: `expr` is a comma-separated column list; violated
    *    when any NON-NULL key value appears more than once (ANSI
    *    UNIQUE: NULL keys are mutually distinct — pair with
    *    [[Constraint.notNull]] to close them). Enforcement costs one
    *    aggregation of the staged table per commit — documented, and
    *    still cheaper than the downstream join that silently
    *    double-counts.
    *
    * Soundness invariant: every (constraint, table version) pair a
    * catalog references was validated either when the table version
    * committed (staged data checked against the then-current set) or
    * when the constraint was added ([[addConstraints]] scans current
    * data) — immutable version dirs make that a proof, not a hope.
    */
  final case class Constraint(table: String, name: String,
      kind: String, expr: String)

  object Constraint {
    def check(table: String, name: String, expr: String): Constraint =
      Constraint(table, name, "check", expr)
    def notNull(table: String, column: String): Constraint =
      Constraint(table, s"${column}_not_null", "check",
        s"$column IS NOT NULL")
    def unique(table: String, columns: Seq[String]): Constraint =
      Constraint(table, "unique_" + columns.mkString("_"), "unique",
        columns.mkString(","))
  }

  /** Thrown when staged/merged/current data violates a persisted
    * [[Constraint]]. NOT retryable — the data is wrong, not
    * contended; the commit rolls back to a byte-identical store.
    */
  final class ConstraintViolationException(val table: String,
      val constraint: String, msg: String)
    extends IllegalStateException(msg)

  /** Thrown when the exclusive catalog-file claim finds the version
    * already taken — i.e. another writer committed between our
    * version read and our claim. Retryable by design: the loser's
    * data hasn't been written yet, so re-reading the new current and
    * re-claiming the next number is a clean optimistic retry.
    */
  final class CommitContentionException(version: Int,
      cause: Throwable) extends IllegalStateException(
    s"concurrent commit detected: catalog version $version is " +
      "already claimed", cause)

  /** Thrown when a commit's staged schema is incompatible with the
    * table's committed schema (the prior version it builds on).
    * NOT retryable — the data is wrong-shaped, not contended; the
    * commit rolls back to a byte-identical store.
    */
  final class SchemaEvolutionException(msg: String)
    extends IllegalStateException(msg)

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointer(root: String) =
    new org.apache.hadoop.fs.Path(root, "_cat_current")

  private def catFile(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(root, s"_cat/c=$v")

  /** The exclusive-claim marker is a SEPARATE file from the catalog
    * file on purpose: completing a commit by renaming the catalog
    * body OVER the claim (the original design) transiently DELETES
    * the claim inside the overwrite-rename, and a spinning retrier
    * can atomically re-claim the number in that window — the loser
    * then fails its completion rename and rolls back the NEW
    * claimant's staging. With a separate marker the claim file is
    * never touched between claim and post-flip cleanup, and the
    * catalog file is created by a NO-overwrite rename (it either
    * appears complete or not at all — no torn-body handling needed).
    */
  private def claimFile(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(root, s"_cat/claim=$v")

  private def tableDir(root: String, name: String, v: Int) =
    new org.apache.hadoop.fs.Path(root, s"$name/v=$v")

  /** The parquet schema of every version dir, keyed by path. A bare
    * `spark.read.parquet(path)` pays a 1-task footer-inference job
    * before the real work — the r13 bench scheduler profile measured
    * the store-gate family at 30–80 sequential jobs per gate with
    * task time ≪ wall, a large share of them exactly these inference
    * jobs. INVARIANT: every version dir's entry is born at its
    * rename. [[publishStaged]] records the schema of the data it
    * staged at each `stage → v=N` rename (a put, replacing whatever
    * a dropped-and-recreated store left at the same path), the
    * rollback of that rename removes the entry again, and [[vacuum]]
    * removes the entries of the dirs it deletes — no entry outlives
    * its dir. Version dirs are immutable once committed (erasure
    * rewrites ROWS in place, never the schema; renames are a logical
    * mapping; evolution lands in a NEW version dir), so an entry
    * never goes stale. Only a dir this JVM did not publish (another
    * JVM's commit) is inferred, once, on its first read. This is what
    * manifest-carrying table formats do: the schema travels with the
    * commit's metadata, and no read re-derives it from data files.
    */
  private val dirSchemaMemo = new java.util.concurrent
    .ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** The memoized schema of a version dir, if this JVM holds one. */
  private[graft] def memoSchema(root: String, name: String,
      v: Int): Option[org.apache.spark.sql.types.StructType] =
    Option(dirSchemaMemo.get(tableDir(root, name, v).toString))

  /** `s` as a parquet read serves it: file sources mark every column,
    * array element and map value nullable, whatever the writer's
    * frame said. Memo entries hold this form, so a recorded schema is
    * exactly the one inference would have produced.
    */
  private def asServed(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def nullable(t: DataType): DataType = t match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), true)
      case m: MapType =>
        MapType(nullable(m.keyType), nullable(m.valueType), true)
      case other => other
    }
    nullable(s).asInstanceOf[StructType]
  }

  private def readVersionDir(spark: SparkSession, root: String,
      name: String, v: Int): DataFrame = {
    val p = tableDir(root, name, v).toString
    val sch = dirSchemaMemo.computeIfAbsent(p,
      path => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(p)
  }

  /** Branches and tags live under ONE file per name (`_cat/ref=<n>`,
    * content `<kind> <version>`), so the exclusive no-overwrite create
    * itself enforces the shared namespace — the former two-file layout
    * (`ref=` + `tag=`) made the cross-kind uniqueness check a
    * check-then-create TOCTOU where two racers creating the same name
    * as different kinds could both succeed, with [[refVersion]] then
    * silently resolving the branch and shadowing the tag.
    */
  private def refFile(root: String, name: String) =
    new org.apache.hadoop.fs.Path(root, s"_cat/ref=$name")

  /** Parse a ref file's `<kind> <version>` content. Migration: the
    * pre-single-file layout wrote `ref=<name>` files with a BARE
    * version number (every `ref=` file was a branch; tags lived in
    * separate `tag=<name>` files) — read that as `branch <v>` so an
    * old store keeps resolving instead of throwing "corrupt" on its
    * own refs. Legacy `tag=` files are read by [[legacyTagVersion]].
    */
  private def parseRef(content: String): (String, Int) = {
    val toks = content.trim.split("\\s+")
    if (toks.length == 1 && toks(0).matches("\\d+"))
      ("branch", toks(0).toInt)
    else {
      require(toks.length == 2 && (toks(0) == "branch" || toks(0) == "tag"),
        s"corrupt ref file content '${content.take(40)}'")
      (toks(0), toks(1).toInt)
    }
  }

  /** Legacy two-file layout: `_cat/tag=<name>` with a bare-version
    * body. Still READ (refs listing, refVersion resolution, vacuum
    * pinning, kind-checked drop) so a pre-migration store's tags
    * neither vanish from the listing nor — worse — lose their vacuum
    * pins and get their targets reclaimed. New tags are only ever
    * written to the shared `ref=<name>` file. A corrupt body throws
    * loudly rather than falling to "no such tag".
    */
  private def legacyTagFile(root: String, name: String) =
    new org.apache.hadoop.fs.Path(root, s"_cat/tag=$name")

  private def legacyTagVersion(fs: org.apache.hadoop.fs.FileSystem,
      root: String, name: String): Option[Int] = {
    val tf = legacyTagFile(root, name)
    if (!fs.exists(tf)) None
    else {
      val body = readSmall(fs, tf).trim
      require(body.matches("\\d+"),
        s"corrupt legacy tag file for '$name': '${body.take(40)}'")
      Some(body.toInt)
    }
  }

  private def validateRefName(name: String): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}"),
      s"ref name '$name' must be [A-Za-z0-9][A-Za-z0-9._-]{0,63}")
    require(name != "main", "'main' is the pointer itself — it cannot " +
      "be created or dropped")
  }

  /** Write a small ref/tag file exclusively (tmp + no-overwrite
    * rename: the file appears complete or not at all; two racing
    * creators converge on ONE winner, the loser fails loudly).
    */
  private def createRefExclusive(spark: SparkSession, root: String,
      dst: org.apache.hadoop.fs.Path, v: Int, kind: String,
      name: String): Unit = {
    val fs = fsOf(spark, root)
    // legacy two-file layout: a pre-migration tag=<name> holds the
    // namespace too. Pre-check only (no legacy writers remain, so no
    // TOCTOU against them) — without it a new branch would silently
    // shadow the old tag.
    require(legacyTagVersion(fs, root, name).isEmpty,
      s"a tag named $name already exists under $root (legacy layout) — " +
        "branch and tag names share one namespace")
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"_cat/.$kind=$name.tmp." + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_cat"))
    try FsAtomic.writeAtomic(fs,
      spark.sparkContext.hadoopConfiguration, tmp, dst,
      s"$kind $v", overwrite = false)
    catch {
      case e: Exception =>
        fs.delete(tmp, false)
        // the EXISTING kind in the message, not the attempted one — a
        // tag-vs-branch collision should name what actually holds the
        // namespace
        val existing =
          try parseRef(readSmall(fs, dst))._1 catch { case _: Exception => kind }
        throw new IllegalArgumentException(
          s"a $existing named $name already exists under $root — " +
            "branch and tag names share one namespace", e)
    }
  }

  /** Create a branch at `at` (default: the current main version; 0 on
    * an unpublished store — the branch-first WAP posture). Branches
    * are MOVABLE refs: [[commit]] with `ref = name` advances them via
    * compare-and-swap, main never sees their history until
    * [[mergeBranch]]. Returns the fork version.
    */
  def createBranch(spark: SparkSession, root: String, name: String,
      at: Option[Int] = None): Int = {
    validateRefName(name)
    // no cross-kind pre-check: both kinds share ONE file name, so the
    // exclusive create below IS the namespace guard (atomic, no TOCTOU)
    val v = at.orElse(currentVersion(spark, root)).getOrElse(0)
    if (v > 0) snapshot(spark, root, Some(v)) // must exist, complete
    createRefExclusive(spark, root, refFile(root, name), v, "branch",
      name)
    v
  }

  /** Create an IMMUTABLE tag at `at` (default: current main). Tags
    * name a committed catalog forever: time travel by name, and
    * [[vacuum]] pins the tagged catalog and every table version it
    * references until [[dropTag]].
    */
  def createTag(spark: SparkSession, root: String, name: String,
      at: Option[Int] = None): Int = {
    validateRefName(name)
    val v = at.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(
        s"no committed catalog under $root to tag"))
    snapshot(spark, root, Some(v)) // a tag must name a real catalog
    createRefExclusive(spark, root, refFile(root, name), v, "tag", name)
    v
  }

  /** Drop a branch ref. The branch's catalogs and table versions
    * become unreferenced; the next aged [[vacuum]] reclaims them. A
    * commit racing the drop fails its ref CAS and reports the branch
    * unknown — loud, never silent. Returns whether the ref existed.
    */
  def dropBranch(spark: SparkSession, root: String,
      name: String): Boolean = dropRefOfKind(spark, root, name, "branch")

  /** Drop a tag; its pin on the tagged catalog ends. */
  def dropTag(spark: SparkSession, root: String,
      name: String): Boolean = dropRefOfKind(spark, root, name, "tag")

  /** Kind-checked drop over the shared ref file: dropTag on a branch
    * name (or vice versa) is refused loudly instead of deleting the
    * other kind's ref.
    */
  private def dropRefOfKind(spark: SparkSession, root: String,
      name: String, kind: String): Boolean = {
    validateRefName(name)
    val fs = fsOf(spark, root)
    val rf = refFile(root, name)
    val existing =
      try Some(parseRef(readSmall(fs, rf))._1)
      catch { case _: Exception => None }
    existing match {
      case None =>
        // legacy two-file layout: the tag may still live in tag=<name>
        legacyTagVersion(fs, root, name) match {
          case Some(_) if kind == "tag" =>
            fs.delete(legacyTagFile(root, name), false)
          case Some(_) => throw new IllegalArgumentException(
            s"$name is a tag — drop it as a tag, not a $kind")
          case None => false
        }
      case Some(k) if k != kind => throw new IllegalArgumentException(
        s"$name is a $k — drop it as a $k, not a $kind")
      case Some(_) => fs.delete(rf, false)
    }
  }

  /** Resolve any ref name to its catalog version: "main" → the
    * pointer, else the branch head, else the tag target. None when no
    * such ref exists (for "main": no commit ever flipped).
    */
  def refVersion(spark: SparkSession, root: String,
      name: String): Option[Int] = {
    if (name == "main") currentVersion(spark, root)
    else {
      val fs = fsOf(spark, root)
      val rf = refFile(root, name)
      if (fs.exists(rf)) Some(parseRef(readSmall(fs, rf))._2)
      else legacyTagVersion(fs, root, name)
    }
  }

  /** [[snapshot]] addressed by ref name — `snapshotRef(_, _, "audit")`
    * reads the branch's world, `snapshotRef(_, _, "v2024.1")` a
    * tagged release, with the same mutual-consistency guarantee.
    */
  def snapshotRef(spark: SparkSession, root: String,
      name: String): Snapshot = {
    val v = refVersion(spark, root, name).getOrElse(
      throw new IllegalArgumentException(s"unknown ref $name under $root"))
    require(v > 0, s"ref $name points at version 0 — no commits yet")
    snapshot(spark, root, Some(v))
  }

  /** One row per named ref: (ref_name, kind, version). The SHOW
    * REFERENCES surface; "main" rides along when a pointer exists.
    * Metadata-sized by construction.
    */
  def refs(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(root, "_cat")
    val refRe = "^ref=(.+)$".r
    val legacyTagRe = "^tag=(.+)$".r
    val entries = if (!fs.exists(dir)) Seq.empty else
      fs.listStatus(dir).toSeq.filter(_.isFile)
    val current = entries.flatMap(s => s.getPath.getName match {
      case refRe(n) =>
        val (kind, v) = parseRef(readSmall(fs, s.getPath))
        Some((n, kind, v))
      case _ => None
    })
    val taken = current.map(_._1).toSet
    // pre-migration layout; a same-name ref= file shadows it, the way
    // the old two-file resolution order did (branch shadowed tag)
    val legacy = entries.flatMap(s => s.getPath.getName match {
      case legacyTagRe(n) if !taken.contains(n) =>
        legacyTagVersion(fs, root, n).map((n, "tag", _))
      case _ => None
    })
    (currentVersion(spark, root).map(("main", "branch", _)).toSeq ++
      (current ++ legacy).sortBy(_._1))
      .toDF("ref_name", "kind", "version")
  }

  /** Read a small catalog/pointer file. ChecksumFileSystem renames
    * the data file and its .crc sidecar as two operations, so a read
    * concurrent with a rename-flip can observe new bytes under the
    * old checksum — a transient torn state, not corruption. Retry it
    * a few times before giving up.
    */
  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        try return new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          // A crc mismatch that survives the retries is a STALE
          // SIDECAR, not torn data: protocol files only ever appear
          // by atomic rename of a fully-written tmp, but ChecksumFs
          // renames data and crc in two steps, so two racing writers
          // of the same ref can interleave to (data from B, crc from
          // A) — permanent until the next write. The data file is
          // still a complete value; read it raw.
          if (attempt > 20) fs match {
            case c: org.apache.hadoop.fs.ChecksumFileSystem =>
              val raw = c.getRawFileSystem.open(p)
              try return new String(
                org.apache.commons.io.IOUtils.toByteArray(raw), "UTF-8")
              finally raw.close()
            case _ => throw e
          }
          Thread.sleep(5L * attempt)
      }
    }
    sys.error("unreachable")
  }

  /** Current catalog version, if any commit completed. The pointer's
    * overwrite-rename is delete-then-rename on the local filesystem,
    * so a read concurrent with a flip can observe NO pointer for a
    * moment — if complete catalog files exist, a missing pointer is
    * retried before concluding the store is unpublished (a writer
    * that believed "unpublished" mid-flip would compute next = 1 and
    * collide with history).
    */
  /** One bare pointer read, no mid-flip arbitration: for use INSIDE
    * the flip CAS (see the MainRef flip) where the per-path lock
    * already excludes every in-process concurrent flip.
    */
  private def pointerValue(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[String] =
    try {
      if (fs.exists(pointer(root)))
        Some(readSmall(fs, pointer(root)).trim).filter(_.nonEmpty)
      else None
    } catch { case _: java.io.FileNotFoundException => None }

  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val fs = fsOf(spark, root)
    var attempt = 0
    while (true) {
      if (fs.exists(pointer(root)))
        try return Some(readSmall(fs, pointer(root)).trim)
          .filter(_.nonEmpty).map(_.toInt)
        catch {
          // pointer vanished between exists() and open(): the
          // overwrite-rename flip is delete-then-rename locally, so
          // this is the same mid-flip window as exists()=false —
          // fall through to the retry/hasMain arbitration below
          case _: java.io.FileNotFoundException => ()
        }
      // only MAIN-chain catalogs imply a pointer may be mid-flip: a
      // branch-first store (every catalog ref'd by a branch, main
      // never committed) legitimately has catalogs and no pointer —
      // spinning 20 rounds on every read there would tax the whole
      // branch workflow. `exists` stops at the first main witness;
      // the all-branch store still pays one header parse per catalog
      // on this (missing-pointer) path only — vacuum bounds the count
      val hasMain = catalogVersions(spark, root).exists(v =>
        (try catMeta(spark, root, v).ref catch {
          case _: Exception => "main"
        }) == "main")
      if (!hasMain) return None
      attempt += 1
      if (attempt > 20) return None // genuinely crashed pre-first-flip
      Thread.sleep(5L * attempt)
    }
    sys.error("unreachable")
  }

  /** All catalog versions physically present, ascending — COMPLETE
    * catalog files only (the no-overwrite completion rename means a
    * c=N either exists whole or not at all). Only names matching
    * `c=<digits>` count: claim markers and a leftover `c=N.tmp` from
    * a crash between the tmp create and its rename must not brick
    * every later commit/vacuum with a NumberFormatException.
    */
  def catalogVersions(spark: SparkSession, root: String): Seq[Int] = {
    val fs = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(root, "_cat")
    val numbered = "^c=(\\d+)$".r
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.isFile)
      .flatMap(s => s.getPath.getName match {
        case numbered(n) => Some(n.toInt)
        case _           => None
      }).sorted
  }

  /** Full parse of one catalog file: version, parent link, owning
    * ref, and the table map. Header lines (`#parent`, `#ref`) were
    * introduced with named refs; files written before them parse with
    * the linear-history defaults (`parent = v - 1`, `ref = "main"`) —
    * exactly what their protocol guaranteed. Unknown `#` headers are
    * ignored (forward compatibility), so a table name can never start
    * with `#` (enforced at commit).
    */
  final case class CatMeta(version: Int, parent: Int, ref: String,
      tables: Map[String, Int], constraints: Seq[Constraint],
      renames: Seq[Rename] = Seq.empty)

  private[graft] def catMeta(spark: SparkSession, root: String,
      v: Int): CatMeta = {
    val fs = fsOf(spark, root)
    val body = readSmall(fs, catFile(root, v))
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head.toInt == v,
      s"catalog file c=$v is incomplete (crashed commit?)")
    var parent = v - 1
    var ref = "main"
    val cs = Seq.newBuilder[Constraint]
    val rn = Seq.newBuilder[Rename]
    val rows = lines.tail.flatMap { l =>
      if (l.startsWith("#")) {
        l.split("\t") match {
          case Array("#parent", p) => parent = p.toInt; None
          case Array("#ref", r)    => ref = r; None
          case Array("#constraint", t, n, k, e) =>
            cs += Constraint(dec(t), dec(n), k, dec(e)); None
          case Array("#rename", at, t, f, to) =>
            rn += Rename(at.toInt, dec(t), dec(f), dec(to)); None
          case _                   => None
        }
      } else {
        val Array(n, tv) = l.split("\t")
        Some(n -> tv.toInt)
      }
    }
    CatMeta(v, parent, ref, rows.toMap, cs.result(), rn.result())
  }

  /** Resolve the catalog ONCE — current, or an old version (catalog
    * time travel: every table then reads as of that transaction).
    */
  def snapshot(spark: SparkSession, root: String,
      version: Option[Int] = None): Snapshot = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed catalog under $root"))
    val m = catMeta(spark, root, v)
    Snapshot(v, m.tables, m.renames)
  }

  /** The rename chain [[read]] applies to table `name` at table
    * version `tv`: renames recorded AFTER the version was written, in
    * recording order. A `from` column absent in an old version (the
    * column was added later, then renamed) skips harmlessly.
    */
  private def renameChain(renames: Seq[Rename], name: String,
      tv: Int): Seq[(String, String)] =
    renames.filter(r => r.table == name && r.atVersion > tv)
      .sortBy(_.atVersion).map(r => (r.from, r.to))

  private def applyChain(df: DataFrame,
      chain: Seq[(String, String)]): DataFrame =
    chain.foldLeft(df) { case (d, (f, t)) =>
      if (d.columns.contains(f)) d.withColumnRenamed(f, t) else d
    }

  /** The PHYSICAL column name behind logical `col` for table `name`
    * at version `tv` — the reverse walk of [[renameChain]], for the
    * sidecar/stats surfaces that are keyed by the bytes' own names.
    */
  private def physicalName(renames: Seq[Rename], name: String,
      tv: Int, col: String): String =
    renameChain(renames, name, tv).reverse
      .foldLeft(col) { case (c, (f, t)) => if (c == t) f else c }

  /** Read one table off a resolved snapshot — N reads off the SAME
    * snapshot are the consistency guarantee; resolving per-read
    * would reopen the torn-boundary window commits exist to close.
    */
  def read(spark: SparkSession, root: String, name: String,
      snap: Snapshot): DataFrame = {
    val v = snap.tables.getOrElse(name, throw new IllegalArgumentException(
      s"table $name is not in catalog version ${snap.version} " +
        s"(has: ${snap.tables.keys.toSeq.sorted.mkString(", ")})"))
    // column mapping: renames recorded after this version was written
    // project its physical names to the snapshot's logical names — a
    // zero-cost alias projection, pruned/pushed through by Catalyst
    applyChain(readVersionDir(spark, root, name, v),
      renameChain(snap.renames, name, v))
  }

  /** Convenience: resolve the current snapshot and read one table.
    * For MULTI-table reads that must agree, resolve [[snapshot]]
    * once and pass it to [[read]] per table instead.
    */
  def readCurrent(spark: SparkSession, root: String,
      name: String): DataFrame =
    read(spark, root, name, snapshot(spark, root))

  /** The physical location a snapshot serves `name` from — the
    * immutable `<table>/v=N` dir. Public so layout-tier tooling
    * (file indexes, skipping audits) can address the same bytes the
    * catalog reads; treat it as read-only.
    */
  def tablePath(root: String, name: String, snap: Snapshot): String = {
    val v = snap.tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"table $name is not in catalog version ${snap.version}"))
    tableDir(root, name, v).toString
  }

  private def fileIndexDir(root: String, name: String, v: Int) =
    new org.apache.hadoop.fs.Path(tableDir(root, name, v),
      "_graft_fileindex")

  /** Persist a per-file min/max box index ([[graft.operators.Layout
    * .fileIndex]]) INSIDE the table's immutable version dir — the
    * publish-time half of catalog-integrated data skipping. Like the
    * stats sidecar, the index binds to immutable bytes (a rebuild can
    * never disagree, so a second call is a no-op) and vacuum drops it
    * with its version. The underscore prefix keeps it invisible to
    * every plain read of the version dir (Spark's default path filter
    * hides `_`/`.` entries — the same contract `_SUCCESS` relies on).
    *
    * At 100 TB this is the Delta/Iceberg file-statistics design: one
    * narrow indexed-columns scan at publish, and every later filtered
    * read prunes files through a model-sized index instead of ~800k
    * parquet footer reads.
    */
  def indexTable(spark: SparkSession, root: String, snap: Snapshot,
      name: String, cols: Seq[String]): Unit = {
    val v = snap.tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"table $name is not in catalog version ${snap.version}"))
    val fs = fsOf(spark, root)
    val dst = fileIndexDir(root, name, v)
    if (fs.exists(dst)) return // immutable data: rebuild ≡ existing
    // stage-and-swap: a crash mid-write must never leave a torn dir
    // under the FINAL name (fileIndexOf would read it forever — the
    // exists() check doubles as "already built"). The tmp name is
    // underscore-hidden like the index itself; a crashed leftover is
    // dead weight, not a correctness hazard, and the no-overwrite
    // rename makes concurrent builders converge on one winner.
    val tmp = new org.apache.hadoop.fs.Path(tableDir(root, name, v),
      "_graft_fileindex.tmp." + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12))
    graft.operators.Layout
      .fileIndex(spark, tableDir(root, name, v).toString, cols)
      .write.parquet(tmp.toString)
    try FsAtomic.renameNoReplace(fs,
      spark.sparkContext.hadoopConfiguration, tmp, dst)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.io.IOException if fs.exists(dst) =>
        fs.delete(tmp, true) // a concurrent builder won: equivalent
    }
  }

  /** The persisted file index of a snapshot's table version, or None
    * when [[indexTable]] never ran for it.
    */
  def fileIndexOf(spark: SparkSession, root: String, snap: Snapshot,
      name: String): Option[DataFrame] = {
    val v = snap.tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"table $name is not in catalog version ${snap.version}"))
    val p = fileIndexDir(root, name, v)
    if (fsOf(spark, root).exists(p))
      Some(spark.read.parquet(p.toString))
    else None
  }

  /** Filtered catalog read WITH automatic data skipping: when the
    * snapshot's version carries a persisted file index, the predicate
    * answers through [[graft.operators.Layout.autoPrunedRead]]
    * (extractable bounds prune files, the FULL predicate re-applies
    * to survivors); without one it degrades to the plain filtered
    * read. Either way the result is row-identical to
    * `read(...).filter(predicate)` — the index is an IO plan, never
    * a semantic input — which is exactly what store_readwhere_gate
    * pins.
    */
  def readWhere(spark: SparkSession, root: String, name: String,
      snap: Snapshot, predicate: org.apache.spark.sql.Column,
      maxFiles: Int = 65536): DataFrame =
    fileIndexOf(spark, root, snap, name) match {
      // renamed tables fall back to the plain filtered read: the
      // index boxes are keyed by the version's PHYSICAL names, the
      // predicate by today's logical ones — row-identical either way
      case Some(idx) if renameChain(snap.renames, name,
          snap.tables(name)).isEmpty =>
        graft.operators.Layout.autoPrunedRead(
          spark, tablePath(root, name, snap), idx, predicate, maxFiles)
      case _ => read(spark, root, name, snap).filter(predicate)
    }

  /** Register a snapshot's table as a SQL temp view whose SCANS skip
    * files through the persisted [[indexTable]] boxes — the
    * [[readWhere]] behavior promoted under the SQL surface, so
    * reports.json-style text queries prune without naming any graft
    * API ([[org.apache.spark.sql.graft.GraftSkippingIndex]] plugs the
    * box map into Spark's own FileIndex listing). Requires a
    * persisted index (loud otherwise — a silent plain view would
    * read as "skipping works" in a benchmark that never skipped).
    */
  def registerSkippingView(spark: SparkSession, root: String,
      name: String, snap: Snapshot, viewName: String,
      maxFiles: Int = 65536): Unit = {
    require(renameChain(snap.renames, name, snap.tables(name)).isEmpty,
      s"table $name has column renames applying to its current " +
        "version — the skipping view would expose PHYSICAL names; " +
        "use registerSnapshotViews (plain fallback) or optimizeTable " +
        "to fold the mapping into a fresh generation first")
    val idx = fileIndexOf(spark, root, snap, name).getOrElse(
      throw new IllegalArgumentException(
        s"table $name v${snap.tables(name)} has no persisted file " +
          "index — run CatalogStore.indexTable at publish first"))
    org.apache.spark.sql.graft.GraftSkippingIndex.registerView(
      spark, tablePath(root, name, snap), idx, viewName, maxFiles)
  }

  /** Register every table of a snapshot as a TEMP VIEW — the
    * time-travel SQL surface: reports.json SQL (or any spark.sql)
    * names plain tables, so registering a HISTORICAL snapshot's
    * tables under those names replays the whole report layer as of
    * that transaction, no query rewrite. `suffix` lets histories
    * coexist (`orders` now vs `orders_at_v3`); empty suffix is the
    * replay posture. Views are path-bound to the snapshot's IMMUTABLE
    * version dirs, so later commits (or pointer flips) cannot tear
    * them — the registered surface stays mutually consistent for the
    * session's lifetime or until re-registered.
    */
  def registerSnapshotViews(spark: SparkSession, root: String,
      version: Option[Int] = None, suffix: String = "",
      skipping: Boolean = false, ref: Option[String] = None): Snapshot = {
    require(version.isEmpty || ref.isEmpty,
      "pass version OR ref, not both")
    // ref names (branch or tag) resolve through refVersion — the SQL
    // surface for "run this report against the staging branch" /
    // "replay the eval against tag v2024.1" with zero query rewrite
    val snap = ref match {
      case Some(r) => snapshotRef(spark, root, r)
      case None    => snapshot(spark, root, version)
    }
    snap.tables.foreach { case (name, v) =>
      // skipping = true upgrades every INDEXED table's view to the
      // file-skipping relation (plain SQL prunes through the
      // persisted boxes); unindexed tables — and RENAMED ones, whose
      // index/scan carry physical names — stay plain. Per-table best
      // effort, identical rows either way.
      if (skipping && fsOf(spark, root)
          .exists(fileIndexDir(root, name, v)) &&
          renameChain(snap.renames, name, v).isEmpty)
        registerSkippingView(spark, root, name, snap, name + suffix)
      else
        read(spark, root, name, snap)
          .createOrReplaceTempView(name + suffix)
    }
    snap
  }

  /** The DESCRIBE-HISTORY surface: one row per (catalog version,
    * table) across every COMPLETE catalog file — which transaction
    * published which table version, and which catalog the pointer
    * currently serves. Registered as a temp view (or joined to
    * [[catalogVersions]]-style listings) this is the audit
    * query "when did table X last change and what rode in that
    * transaction". Driver-built by design: catalog files are
    * |versions| metadata files of |tables| lines each — model-sized,
    * never data-sized.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(spark, root)
    catalogVersions(spark, root).flatMap { v =>
      (try Some(catMeta(spark, root, v))
       catch { case _: Exception => None }).toSeq
        .flatMap(m => m.tables.toSeq.sorted.map { case (t, tv) =>
          // ref_name keeps branch transactions distinguishable from
          // main history — "when did X last change ON MAIN" must not
          // count an unmerged WIP branch commit as a change
          (v, m.ref, if (cur.contains(v)) 1 else 0, t, tv)
        })
    }.toDF("cat_version", "ref_name", "is_current", "table_name",
      "table_version")
  }

  private def statsFile(root: String, name: String, v: Int) =
    new org.apache.hadoop.fs.Path(tableDir(root, name, v),
      "_graft_stats.tsv")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** ANALYZE a snapshot: one profiling pass per table (row count,
    * per-column NDV sketch / null count / min-max via
    * [[graft.operators.Profile]], on-disk bytes from the listing),
    * persisted as an underscore-prefixed sidecar INSIDE the immutable
    * version dir (parquet readers skip it; vacuum drops it with its
    * version) and registered into [[graft.plans.ScanStatsCatalog]]
    * so the optimizer rule feeds them to join planning. Run it after
    * commit like ANALYZE TABLE after a load; tables whose version
    * already carries a sidecar are NOT re-profiled (stats bind to
    * immutable data — re-analysis can never disagree).
    */
  def analyze(spark: SparkSession, root: String, snap: Snapshot,
      histCols: Map[String, Seq[String]] = Map.empty,
      histBins: Int = 32): Map[String, graft.plans.TableStats] = {
    val fs = fsOf(spark, root)
    val out = snap.tables.map { case (name, v) =>
      val sf = statsFile(root, name, v)
      val dir = tableDir(root, name, v)
      val base = if (fs.exists(sf)) readStats(fs, sf) else {
        val bytes = fs.listStatus(dir).filter(_.isFile)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
        val df = readVersionDir(spark, root, name, v)
        // typedMinMax: the sidecar's min/max are OPTIMIZER BOUNDS
        // (and metaAgg answers), so they must be native-order — the
        // report form's lexicographic min over {9, 10} is "10", a
        // bound that excludes a live value
        // collect-bound: ONE aggregated row, |columns| rows exploded
        val prof = graft.operators.Profile.profile(df,
          df.columns.toSeq, approxDistinct = true, typedMinMax = true,
          lengths = true)
          .collect()
        val rows = prof.headOption.map(_.getLong(1)).getOrElse(0L)
        val cols = prof.map { r =>
          def optLong(i: Int) =
            if (r.isNullAt(i)) None else Some(r.getLong(i))
          r.getString(0) -> graft.plans.ColStats(
            ndv = r.getLong(3), nulls = r.getLong(2),
            min = Option(r.getString(4)), max = Option(r.getString(5)),
            avgLen = optLong(6), maxLen = optLong(7))
        }.toMap
        graft.plans.TableStats(rows, math.max(1L, bytes), cols)
      }
      // requested histograms the sidecar doesn't carry yet: compute
      // and merge (immutable data — the rewrite can never disagree
      // with the prior sidecar, it only ADDS detail)
      val wanted = histCols.getOrElse(name, Nil)
        .filter(c => base.cols.contains(c) &&
          base.cols(c).hist.isEmpty)
      val ts = if (wanted.isEmpty) base else {
        val df = readVersionDir(spark, root, name, v)
        val merged = wanted.foldLeft(base.cols) { (m, c) =>
          equiHeightHist(df, c, histBins) match {
            case Some(h) => m + (c -> m(c).copy(hist = Some(h)))
            case None => m
          }
        }
        base.copy(cols = merged)
      }
      if (!fs.exists(sf) || ts != base) {
        // min/max field: "=<enc(value)>" — URLEncoder leaves "-"
        // unencoded, so a bare "-" sentinel COLLIDES with a real
        // string value of "-" (the dash-for-missing dataset) and
        // metaAgg would serve NULL for a live value; the "=" marker
        // can never appear in enc output ("=" encodes as %3D)
        def mm(v: Option[String]) = v.map("=" + enc(_)).getOrElse("-")
        def ol(v: Option[Long]) = v.map(_.toString).getOrElse("-")
        val body = (Seq(s"rows\t${ts.rowCount}",
          s"bytes\t${ts.sizeInBytes}") ++
          ts.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
            s"col\t${enc(c)}\t${cs.ndv}\t${cs.nulls}\t" +
              s"${mm(cs.min)}\t${mm(cs.max)}\t" +
              s"${ol(cs.avgLen)}\t${ol(cs.maxLen)}"
          } ++
          ts.cols.toSeq.sortBy(_._1).flatMap { case (c, cs) =>
            cs.hist.map(h => s"hist\t${enc(c)}\t${h.height}\t" +
              h.bins.map(b => s"${b.lo}:${b.hi}:${b.ndv}")
                .mkString(","))
          }).mkString("\n")
        // stage-and-swap like indexTable: the histogram-merge path
        // REWRITES a live sidecar, and truncate-then-write would show
        // concurrent readers a torn file (and a crash would leave it
        // torn forever behind the exists() check)
        val tmp = new org.apache.hadoop.fs.Path(dir,
          "_graft_stats.tsv.tmp." + java.util.UUID.randomUUID()
            .toString.replace("-", "").take(12))
        FsAtomic.writeAtomic(fs,
          spark.sparkContext.hadoopConfiguration, tmp, sf, body,
          overwrite = true)
      }
      graft.plans.ScanStatsCatalog.register(dir.toString, ts)
      name -> ts
    }
    out
  }

  /** Equi-height histogram over a numeric column — `bins` buckets of
    * ~equal row count between the approx-percentile boundaries, each
    * with a sketched per-bin NDV. The skew story: min/max + a uniform
    * assumption estimates a hot-value column's range selectivity off
    * by ~the skew factor; equi-height boundaries CROWD around the hot
    * values, so the optimizer sees where the rows actually live.
    * One boundary aggregate + one group-by-bin pass over the single
    * column; returns None for all-NULL/empty columns. Bin assignment
    * counts boundaries strictly below the value, so rows AT a
    * repeated (hot) boundary land in its first bin — Spark's own
    * equi-height shape, duplicate boundaries become zero-width bins.
    */
  private def equiHeightHist(df: DataFrame, c: String,
      bins: Int): Option[graft.plans.Hist] = {
    import org.apache.spark.sql.functions._
    require(bins >= 2 && bins <= 254, s"bins must be in [2, 254]: $bins")
    val v = col(c).cast("double")
    val qs = (0 to bins).map(_.toDouble / bins)
    // collect-bound: one row carrying bins+1 percentile boundaries
    val bRow = df.agg(percentile_approx(v, typedLit(qs),
      lit(100000)).as("b")).collect()(0)
    if (bRow.isNullAt(0)) return None
    val bounds = bRow.getSeq[Double](0)
    if (bounds.isEmpty) return None
    val binCol = bounds.tail.init
      .map(b => when(v > lit(b), 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
    val perBin = df.filter(v.isNotNull)
      .groupBy(binCol.as("__b"))
      .agg(count(lit(1)).as("__n"),
        approx_count_distinct(v).as("__nd"))
      // collect-bound: ≤ bins rows by construction of the group key
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = perBin.values.map(_._1).sum
    if (n == 0L) return None
    val hb = (0 until bins).map { i =>
      graft.plans.HistBin(bounds(i), bounds(i + 1),
        math.max(1L, perBin.get(i).map(_._2).getOrElse(0L)))
    }
    Some(graft.plans.Hist(n.toDouble / bins, hb))
  }

  private def readStats(fs: org.apache.hadoop.fs.FileSystem,
      sf: org.apache.hadoop.fs.Path): graft.plans.TableStats = {
    val lines = readSmall(fs, sf).split("\n").map(_.trim)
      .filter(_.nonEmpty)
    var rows = 0L; var bytes = 1L
    val cols = scala.collection.mutable.Map[String, graft.plans.ColStats]()
    val hists = scala.collection.mutable.Map[String, graft.plans.Hist]()
    lines.foreach { l =>
      l.split("\t", -1) match {
        case Array("rows", n) => rows = n.toLong
        case Array("bytes", b) => bytes = b.toLong
        case Array("col", rest @ _*) if rest.size == 5 ||
            rest.size == 7 =>
          // "=<enc>" = value (unambiguous: enc never emits '='),
          // "-" = none; a bare legacy value (pre-marker sidecars)
          // still decodes. 5 fields = pre-length sidecars, 7 adds
          // avg/max byte length for var-width columns.
          def mm(s: String): Option[String] =
            if (s == "-") None
            else if (s.startsWith("=")) Some(dec(s.drop(1)))
            else Some(dec(s))
          def ol(s: String): Option[Long] =
            if (s == "-") None else Some(s.toLong)
          val Seq(c, ndv, nulls, mn, mx) = rest.take(5)
          val (al, ml) =
            if (rest.size == 7) (ol(rest(5)), ol(rest(6)))
            else (None, None)
          cols(dec(c)) = graft.plans.ColStats(ndv.toLong, nulls.toLong,
            mm(mn), mm(mx), avgLen = al, maxLen = ml)
        case Array("hist", c, h, bs) =>
          hists(dec(c)) = graft.plans.Hist(h.toDouble,
            bs.split(",").filter(_.nonEmpty).toSeq.map { s =>
              val Array(lo, hi, nd) = s.split(":")
              graft.plans.HistBin(lo.toDouble, hi.toDouble, nd.toLong)
            })
        case _ => ()
      }
    }
    hists.foreach { case (c, h) =>
      cols.get(c).foreach(cs => cols(c) = cs.copy(hist = Some(h)))
    }
    graft.plans.TableStats(rows, bytes, cols.toMap)
  }

  /** Load previously-persisted sidecar stats for a snapshot into the
    * optimizer registry WITHOUT profiling — the session-startup path
    * (stats were computed once at publish; every later reader just
    * registers them). Tables without a sidecar are skipped.
    */
  def registerStats(spark: SparkSession, root: String,
      snap: Snapshot): Map[String, graft.plans.TableStats] = {
    val fs = fsOf(spark, root)
    snap.tables.flatMap { case (name, v) =>
      val sf = statsFile(root, name, v)
      if (!fs.exists(sf)) None
      else {
        val ts = readStats(fs, sf)
        graft.plans.ScanStatsCatalog.register(
          tableDir(root, name, v).toString, ts)
        Some(name -> ts)
      }
    }
  }

  /** Metadata-only aggregates: COUNT(*) / COUNT(col) / MIN / MAX
    * answered from the publish-time stats sidecar WITHOUT touching a
    * data file — the query Delta/Iceberg serve from their manifest
    * and a bare-path lakehouse re-scans for. At 100 TB that is the
    * difference between one small-file read and an ~800k-file scan
    * for a dashboard's `SELECT count(*), max(event_time)`.
    *
    * Soundness: the sidecar is written ONCE per immutable version dir
    * by [[analyze]] with native-order (typed) min/max — never the
    * long-format report's lexicographic strings — and version dirs
    * never mutate, so the sidecar cannot go stale. min/max cast back
    * through the column's own type (Spark's string forms round-trip);
    * an all-NULL or empty column serves typed NULL, exactly what the
    * scan aggregate returns. NDV is deliberately NOT served: analyze
    * records a sketch (approx_count_distinct), and a metadata answer
    * must never silently swap exact for approximate.
    *
    * Output: one row — `row_count`, then per requested column
    * `nulls_<c>`, `min_<c>`, `max_<c>` in the column's type. Built as
    * a LOCAL relation (constant-folded literals): the optimized plan
    * contains no scan, which the stats_metadata_agg_gate pins.
    */
  def metaAgg(spark: SparkSession, root: String, snap: Snapshot,
      table: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table not in catalog v${snap.version}"))
    val fs = fsOf(spark, root)
    val sf = statsFile(root, table, v)
    require(fs.exists(sf),
      s"no stats sidecar for $table v$v — metadata aggregates need " +
        "a publish-time CatalogStore.analyze on this snapshot")
    val ts = readStats(fs, sf)
    // footer-only read: schema, never data
    val schema = readVersionDir(spark, root, table, v).schema
    val out = lit(ts.rowCount).as("row_count") +: cols.flatMap { c =>
      // the sidecar and footer are keyed by the version's PHYSICAL
      // names; the caller asks (and the output is aliased) by
      // today's logical ones
      val p = physicalName(snap.renames, table, v, c)
      require(schema.fieldNames.contains(p),
        s"column $c not in $table v$v" +
          (if (p != c) s" (physical name $p)" else ""))
      val cs = ts.cols.getOrElse(p, throw new IllegalStateException(
        s"stats sidecar for $table v$v lacks column $p — " +
          "re-run analyze"))
      val dt = schema(p).dataType
      def typed(s: Option[String]) =
        s.map(x => lit(x).cast(dt)).getOrElse(lit(null).cast(dt))
      Seq(lit(cs.nulls).as(s"nulls_$c"),
        typed(cs.min).as(s"min_$c"), typed(cs.max).as(s"max_$c"))
    }
    import spark.implicits._
    Seq(1).toDF("__one").select(out: _*)
  }

  /** Change-data-feed read between two CATALOG versions of one table
    * — "what did that transaction (commit / upsert / delete / merge)
    * change", answered from the immutable version dirs the two
    * catalogs reference: (id, status ∈ added | removed | modified |
    * unchanged) via [[graft.operators.Incremental.snapshotDiff]]'s
    * one id-keyed join of (id, md5) projections. Works BACKWARD
    * (audit a rollback's blast radius) and across any un-vacuumed
    * pair. When both catalogs reference the SAME table version (the
    * table rode carry-forward through the transactions between
    * them), the join is skipped: one scan projects every id as
    * `unchanged` — and a caller who checks the map equality first
    * skips even that, which is why the version map is public on
    * [[Snapshot]].
    */
  def changesBetween(spark: SparkSession, root: String, name: String,
      catFrom: Int, catTo: Int, idCol: String,
      contentCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from = snapshot(spark, root, Some(catFrom))
    val to = snapshot(spark, root, Some(catTo))
    if (from.tables.get(name).exists(v => to.tables.get(name)
        .contains(v)))
      read(spark, root, name, to)
        .select(col(idCol), lit("unchanged").as("status"))
    else graft.operators.Incremental.snapshotDiff(
      read(spark, root, name, from), read(spark, root, name, to),
      idCol, contentCol)
  }

  /** RESTORE: publish a NEW catalog version whose table map (and
    * constraint set, and rename mapping) equal an older catalog's —
    * the Delta RESTORE / Nessie assign move, here as a data-free
    * FORWARD commit: nothing rewinds, so concurrent readers keep
    * their snapshot guarantees, the botched history stays auditable
    * (and vacuumable), and the restore itself shows up in
    * [[history]] like any transaction. The restored map references
    * the old immutable version dirs — zero bytes move, and those
    * dirs become protected again because the current catalog
    * references them (un-vacuumed history only: restoring past a
    * vacuum fails loudly at [[snapshot]]).
    *
    * Ref-scoped: `toVersion` must be an ANCESTOR on the requested
    * ref's own history (the parent chain from its current head).
    * Catalog numbers are shared ids across refs, so without this
    * guard a RESTORE on main to a BRANCH catalog number would
    * republish the branch's table map, constraint set, and rename
    * chain onto main — bypassing [[mergeBranch]]'s conflict
    * detection, constraint enforcement, and schema-compatibility
    * gates (and silently replacing main's constraints with the
    * branch's). When an intermediate catalog in the walk was already
    * vacuumed the lineage is unprovable by walking; the guard then
    * falls back to requiring the target was COMMITTED on this ref.
    */
  def restore(spark: SparkSession, root: String, toVersion: Int,
      ref: String = "main",
      contentionTimeoutMs: Long = 60000L): CatalogTx = {
    val target = catMeta(spark, root, toVersion) // loud if vacuumed
    val head = refVersion(spark, root, ref).getOrElse(
      throw new IllegalArgumentException(
        s"unknown ref $ref under $root — nothing to restore"))
    require(isAncestorOn(spark, root, head, toVersion, target.ref == ref),
      s"catalog v$toVersion is not in ref $ref's history (it was " +
        s"committed on ref '${target.ref}') — restoring a foreign " +
        "ref's catalog would republish its tables, constraints, and " +
        "renames without mergeBranch's gates")
    val deadline = System.currentTimeMillis + contentionTimeoutMs
    var attempt = 0
    var out: Option[CatalogTx] = None
    while (out.isEmpty) {
      val (prior, parentV, next, refTarget) =
        if (ref == "main") {
          val (p, pv, n) = frontier(spark, root)
          (p, pv, n, MainRef: RefTarget)
        } else {
          val head = branchHead(spark, root, ref)
          val p = if (head == 0) Map.empty[String, Int]
            else snapshot(spark, root, Some(head)).tables
          (p, head, nextFree(spark, root, head),
            BranchTarget(ref, head): RefTarget)
        }
      // extraEntries REPLACES table-by-table; tables that exist now
      // but not at the target must drop from the map — publishStaged
      // composes prior ++ extras, so pass the target map as the
      // WHOLE map by overriding prior
      try out = Some(publishStaged(spark, root, Seq.empty,
        txid = "restore", prior = target.tables, next = next,
        evolve = true, parent = parentV, target = refTarget,
        constraints = target.constraints, renames = target.renames,
        stagedSchemas = Map.empty))
      catch {
        case e: CommitContentionException =>
          attempt += 1
          if (System.currentTimeMillis > deadline) throw e
          Thread.sleep(math.min(500L, 25L * attempt))
      }
    }
    out.get
  }

  /** Whether `toVersion` sits on the parent chain starting at `head`
    * (inclusive). A vacuumed intermediate makes the walk unprovable —
    * `onVacuumedGap` (the caller's weaker ref-match check) decides
    * then, instead of silently passing or failing.
    */
  private def isAncestorOn(spark: SparkSession, root: String, head: Int,
      toVersion: Int, onVacuumedGap: => Boolean): Boolean = {
    var v = head
    while (v > 0) {
      if (v == toVersion) return true
      if (v < toVersion) return false // parents only decrease
      val m = try catMeta(spark, root, v)
        catch { case _: Exception => return onVacuumedGap }
      v = m.parent
    }
    false
  }

  /** What [[vacuum]] removed: catalog versions dropped, and table
    * versions dropped per table.
    */
  final case class CatalogVacuum(catalogs: Seq[Int],
      tableVersions: Map[String, Seq[Int]])

  /** Drop all but the newest `keep` catalog versions — never the
    * pointer target — and every table version NO kept catalog
    * references. The subtlety carry-forward creates: a table version
    * can be referenced by MANY catalog versions (a dim committed once
    * rides through every later transaction's map), so table-version
    * liveness is a REFCOUNT over the kept catalogs' maps, not an
    * age cutoff — vacuum(keep = 1) after 100 commits that never
    * touched the dim must keep the dim's original v=1 dir.
    *
    * Crashed-commit sweep, AGE-GATED: claim markers and complete
    * catalog files ABOVE the pointer can be a live in-flight commit,
    * not just a dead one — deleting a LIVE claim would let a second
    * writer re-claim the number and the resulting collision rollback
    * could delete the first writer's staged data (silent cross-writer
    * deletion). So above-pointer leftovers (claims, catalog files,
    * `.stage=` dirs, `c=N.tmp`) are swept only when older than
    * `claimAgeMs` — default the commit contention timeout, by which
    * time a live writer would have flipped or given up. An operator
    * who KNOWS no commit is in flight passes `claimAgeMs = 0` for an
    * immediate sweep. With named refs, claims at or below the pointer
    * are NOT provably dead (a live branch publish can claim a number
    * below a racing main pointer), so every claim age-gates.
    *
    * NO-POINTER RECOVERY: when no commit ever flipped the pointer (a
    * crash during the FIRST commit leaves `claim=1`, possibly `c=1`,
    * and no pointer — a state where every later commit computes
    * `next = 1` forever and collides), vacuum runs a claims-only
    * sweep of everything age-expired instead of refusing, returning
    * the store to cleanly unpublished. (A crashed-but-COMPLETE first
    * catalog is also recoverable forward: the next [[commit]]'s
    * frontier walk builds on it — whichever runs first wins, and both
    * outcomes are valid resolutions of an unacknowledged transaction.)
    */
  def vacuum(spark: SparkSession, root: String,
      keep: Int, claimAgeMs: Long = 60000L): CatalogVacuum = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val fs = fsOf(spark, root)
    val now = System.currentTimeMillis
    def aged(p: org.apache.hadoop.fs.Path): Boolean =
      !fs.exists(p) ||
        (try now - fs.getFileStatus(p).getModificationTime >= claimAgeMs
        // deleted between exists() and getFileStatus() (a racing
        // writer's own cleanup): gone == no live claim to protect
        catch { case _: java.io.FileNotFoundException => true })
    val curOpt = currentVersion(spark, root)
    val all = catalogVersions(spark, root)
    val metas: Map[Int, Option[CatMeta]] = all.map(v => v ->
      (try Some(catMeta(spark, root, v))
       catch { case _: Exception => None })).toMap // torn file: no map
    def refOf(v: Int) = metas.get(v).flatten.map(_.ref).getOrElse("main")
    // NAMED-REF PINS: a branch pins its whole local chain up to AND
    // INCLUDING the fork catalog (merge needs the fork map for
    // conflict detection while the branch lives); a tag pins exactly
    // its target (snapshots are self-contained maps). Pins override
    // both the keep-trim and the age sweep; dropBranch/dropTag ends
    // them.
    val catDir = new org.apache.hadoop.fs.Path(root, "_cat")
    val catEntries = if (fs.exists(catDir))
      fs.listStatus(catDir).toSeq.filter(_.isFile) else Seq.empty
    // An unparseable ref file REFUSES the vacuum rather than falling
    // to "unpinned": silently dropping a pin is how a corrupt (or
    // newer-layout) ref file turns into deleted tagged data. Legacy
    // bare-version ref= files parse as branches (parseRef fallback)
    // and legacy tag=<name> files keep their pins here.
    val refRe = "^ref=(.+)$".r
    val legacyTagRe = "^tag=(.+)$".r
    val refHeads = catEntries.flatMap(s => s.getPath.getName match {
      case refRe(n) =>
        try Some(parseRef(readSmall(fs, s.getPath))._2)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"vacuum refused: ref file for '$n' is unreadable — fix or " +
              "drop the ref first, a silent skip would unpin its data", e)
        }
      case legacyTagRe(n) => legacyTagVersion(fs, root, n)
      case _ => None
    })
    val pinned = scala.collection.mutable.Set[Int]()
    refHeads.foreach { h =>
      var v = h
      var walking = true
      while (walking && v > 0 && !pinned.contains(v) &&
          metas.get(v).flatten.isDefined) {
        pinned += v
        val m = metas(v).get
        if (m.ref == "main") walking = false // fork pinned; main
        else v = m.parent                    // policy covers the rest
      }
    }
    // `keep` counts COMMITTED MAIN catalogs (complete, main-chain,
    // at-or-below the pointer); branch catalogs live and die by their
    // pins, whatever their number
    val cur = curOpt.getOrElse(0)
    val committedMain = all.filter(v => curOpt.isDefined && v <= cur &&
      metas(v).isDefined && (refOf(v) == "main" || curOpt.contains(v)))
    val keepSet = committedMain.takeRight(keep).toSet ++ curOpt.toSet ++
      pinned
    // above-pointer catalog files: dead commits when aged, possibly
    // live (pre-flip or awaiting roll-forward) when young — young
    // ones survive AND pin their referenced table versions
    val (doomedAbove, liveAbove) = all
      .filter(v => v > cur && !keepSet.contains(v))
      .partition(v => aged(catFile(root, v)))
    // branch-chain catalogs BELOW the pointer (numbers interleave
    // across refs) that no ref pins: a dropped branch's history or a
    // crashed branch publish — not provably dead by position, so age-
    // gated like everything above the pointer
    val (doomedBranch, liveBranch) = all
      .filter(v => v <= cur && refOf(v) != "main" &&
        !keepSet.contains(v))
      .partition(v => aged(catFile(root, v)))
    val doomedCats = all.filter(v => v <= cur && refOf(v) == "main" &&
      !keepSet.contains(v)) ++ doomedAbove ++ doomedBranch
    doomedCats.foreach(v => fs.delete(catFile(root, v), false))
    val referenced: Set[(String, Int)] =
      (keepSet ++ liveAbove ++ liveBranch).toSeq
        .flatMap(v => metas.get(v).flatten.toSeq
          .flatMap(_.tables.toSeq))
        .toSet
    val claimRe = "^claim=(\\d+)$".r
    val tmpRe = "^c=\\d+\\.tmp$".r
    // ALL claims age-gate: a number at or below the pointer is no
    // longer provably dead — a live BRANCH publish can hold a claim
    // below a racing main pointer (numbers are shared ids, not
    // positions); deleting it would let the number be re-claimed and
    // the collision rollback delete the live writer's staged data
    val (deadClaims, liveClaims) = catEntries
      .flatMap(s => s.getPath.getName match {
        case claimRe(n) => Some(n.toInt)
        case _          => None
      })
      .partition(v => aged(claimFile(root, v)))
    deadClaims.foreach(v => fs.delete(claimFile(root, v), false))
    // crashed tmp bodies (between create and completion rename):
    // catalog bodies (`c=N.tmp`), ref/tag create+CAS temporaries
    // (`.branch=<n>.tmp.*`, `.tag=<n>.tmp.*`, `.ref=<n>.tmp.*`) — a
    // crashed ref writer otherwise leaks them forever — and the
    // pointer-flip temporary at the root (`_cat_current.tmp.*`)
    val refTmpRe = "^\\.(?:ref|branch|tag)=.+\\.tmp\\..+$".r
    catEntries.filter(s =>
        tmpRe.findFirstIn(s.getPath.getName).isDefined ||
        refTmpRe.findFirstIn(s.getPath.getName).isDefined)
      .filter(s => now - s.getModificationTime >= claimAgeMs)
      .foreach(s => fs.delete(s.getPath, false))
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(e => e.isFile &&
        e.getPath.getName.startsWith("_cat_current.tmp."))
      .filter(e => now - e.getModificationTime >= claimAgeMs)
      .foreach(e => fs.delete(e.getPath, false))
    val tables = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .toSeq.filter(e => e.isDirectory &&
        !e.getPath.getName.startsWith("_") &&
        !e.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
    // a table version is protected by a kept/pinned/live catalog's
    // map OR by a surviving (young) claim — its writer may be
    // mid-publish with data already renamed to v=N
    val liveClaimSet = liveClaims.toSet
    val liveCatSet = liveAbove.toSet ++ liveBranch.toSet
    val droppedTv = tables.map { t =>
      val entries = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, t)).toSeq.filter(_.isDirectory)
      // aged crashed staging dirs sweep silently
      entries.filter(e => e.getPath.getName.startsWith(".stage="))
        .filter(e => now - e.getModificationTime >= claimAgeMs)
        .foreach(e => fs.delete(e.getPath, true))
      val vs = entries.filter(_.getPath.getName.startsWith("v="))
        .map(_.getPath.getName.stripPrefix("v=").toInt).sorted
      val doomed = vs.filterNot(v => referenced.contains((t, v)) ||
        liveClaimSet.contains(v) || liveCatSet.contains(v))
      doomed.foreach { v =>
        fs.delete(tableDir(root, t, v), true)
        dirSchemaMemo.remove(tableDir(root, t, v).toString)
      }
      t -> doomed
    }.filter(_._2.nonEmpty).toMap
    CatalogVacuum((doomedCats ++ deadClaims).distinct.sorted, droppedTv)
  }

  private def stageDir(root: String, name: String, txid: String) =
    new org.apache.hadoop.fs.Path(root, s"$name/.stage=$txid")

  /** The frontier a new transaction builds on: the latest map in the
    * chain of COMPLETE catalog files, starting from the pointer and
    * rolling FORWARD over complete-but-unflipped catalogs above it.
    * A complete `c=v` is a transaction whose data is fully staged at
    * its version dirs and whose audits passed — only its pointer flip
    * is outstanding — so building `v+1`'s carry-forward on its FINAL
    * map (instead of waiting for the flip) lets concurrent commits
    * land without blocking on each other, Iceberg-style, while never
    * reading a STALE prior (the lost-update anomaly needs an
    * in-flight claim to be skipped against a map that predates it —
    * rolling forward over complete catalogs is the opposite: each
    * step reads the immutable final map).
    */
  private def frontier(spark: SparkSession,
      root: String): (Map[String, Int], Int, Int) = {
    val fs = fsOf(spark, root)
    var v = currentVersion(spark, root).getOrElse(0)
    var prior: Map[String, Int] =
      if (v == 0) Map.empty else snapshot(spark, root, Some(v)).tables
    // version NUMBERS are shared across refs (one claim namespace), so
    // the walk tracks two cursors: `n` the last number consumed by ANY
    // ref, `parent` the last MAIN catalog adopted — branch commits
    // occupy numbers but never enter main's map, and main's chain
    // stays linear because every main commit fills the lowest free
    // number under an exclusive claim
    var parent = v
    var n = v
    var walking = true
    while (walking) {
      if (fs.exists(catFile(root, n + 1))) {
        // complete by construction (no-overwrite completion rename);
        // the catch covers a concurrent vacuum deleting it mid-read
        try {
          val m = catMeta(spark, root, n + 1)
          if (m.ref == "main") { prior = m.tables; parent = n + 1 }
          n += 1
        } catch { case _: Exception => walking = false }
      } else walking = false
    }
    (prior, parent, n + 1)
  }

  /** The next claimable version number for a BRANCH commit: above
    * every existing catalog file, live claim, the pointer, and the
    * branch's own head. Branch commits skip over other writers' live
    * claims (numbers are transaction ids, not positions — a branch's
    * ORDER lives in its parent chain), so a crashed main claim never
    * blocks branch work.
    */
  private def nextFree(spark: SparkSession, root: String,
      floor: Int): Int = {
    val fs = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(root, "_cat")
    val claimRe = "^claim=(\\d+)$".r
    val catRe = "^c=(\\d+)$".r
    val taken = if (!fs.exists(dir)) Seq.empty else
      fs.listStatus(dir).toSeq.filter(_.isFile)
        .flatMap(s => s.getPath.getName match {
          case claimRe(x) => Some(x.toInt)
          case catRe(x)   => Some(x.toInt)
          case _          => None
        })
    (taken ++ Seq(floor, currentVersion(spark, root).getOrElse(0)))
      .max + 1
  }

  /** Atomically publish `tables` as one transaction; tables not in
    * the map carry their current version forward.
    *
    * STAGE ONCE: every table's data is written exactly once, to a
    * tx-unique staging dir (`<table>/.stage=<txid>`), BEFORE any
    * version number is claimed — so audits run (and fail) without
    * blocking other writers, and a contention retry re-runs only
    * METADATA (claim, per-table dir renames, catalog file, pointer),
    * never the upstream job that computed the data. A failing audit
    * rolls back by deleting the staging dirs, leaving the store
    * byte-identical to the pre-commit state.
    *
    * Concurrency: the exclusive claim on `_cat/claim=next` still
    * serializes same-number racers, but `next` comes from the
    * [[frontier]] walk — a writer that finds version N complete but
    * unflipped builds on N's final map and claims N+1 immediately,
    * so two committers (disjoint or not: table-level last-writer-wins
    * either way, in claim order) overlap on everything except the
    * claim+rename+flip metadata step. The pointer flip goes through
    * [[FsAtomic.putIfMatch]] and only ever moves FORWARD; a writer
    * whose flip is refused because the pointer already passed its
    * version is INCLUDED (the only way the pointer passes a claimed
    * version is through a chain built on that writer's own complete
    * catalog file) and reports success without flipping.
    *
    * Crash ambiguity: a crash (or IO failure) AFTER the catalog file
    * completes but BEFORE the flip leaves a transaction that a later
    * commit's frontier walk rolls FORWARD, while an aged [[vacuum]]
    * sweeps it — either resolution of an unacknowledged transaction
    * is valid; callers that saw no success ack must re-check before
    * re-submitting. A claim whose holder crashed pre-completion
    * blocks commits until the timeout (loudly —
    * [[CommitContentionException]]); [[vacuum]] sweeps it once aged.
    */
  def commit(spark: SparkSession, root: String,
      tables: Map[String, DataFrame],
      audits: Seq[Audit] = Seq.empty,
      contentionTimeoutMs: Long = 60000L,
      evolve: Boolean = false,
      indexCols: Map[String, Seq[String]] = Map.empty,
      analyzeStats: Boolean = false,
      ref: String = "main"): CatalogTx = {
    require(tables.nonEmpty, "a transaction must publish at least one table")
    tables.keys.foreach(n => require(!n.startsWith("#") &&
      !n.contains("\t") && !n.contains("\n") && !n.contains("/"),
      s"table name '$n' would corrupt the catalog file format " +
        "(no leading '#', no tab/newline/slash)"))
    audits.foreach(a => require(tables.contains(a.table),
      s"audit ${a.name} names ${a.table}, not in this transaction " +
        "(committed tables are immutable — audit them at their own commit)"))
    indexCols.foreach { case (n, cols) =>
      require(tables.contains(n),
        s"indexCols names $n, not in this transaction (committed " +
          "versions are immutable — indexTable them directly)")
      // validate COLUMNS before anything stages: a typo'd column
      // failing after the pointer flip would throw a committed
      // transaction's CatalogTx away and bait a double-publish retry
      cols.foreach(c => require(tables(n).schema.fieldNames
        .contains(c),
        s"indexCols names column $c, not in table $n's schema"))
    }
    val fs = fsOf(spark, root)
    val txid = java.util.UUID.randomUUID().toString.replace("-", "")
      .take(12)
    val tx = try {
      // each table stages under its own tx-private dir — independent
      // writes, overlapped (guide §2.6): a two-table tick transaction
      // halves its staging wall
      graft.Par.all(tables.toSeq.map { case (name, df) => () =>
        df.write.mode("errorifexists")
          .parquet(stageDir(root, name, txid).toString)
      })
      val failed = audits.find(a => !a.check(
        spark.read.schema(tables(a.table).schema)
          .parquet(stageDir(root, a.table, txid).toString)))
      failed match {
        case Some(a) => CatalogTx(None, Some(a.name))
        case None =>
          val deadline = System.currentTimeMillis + contentionTimeoutMs
          var attempt = 0
          var out: Option[CatalogTx] = None
          // persisted-constraint enforcement, STAGE-ONCE shaped: the
          // staged data validates against the target ref's current
          // constraint set exactly once; a contention retry re-scans
          // data only if the SET changed underneath it (a concurrent
          // addConstraints — rare, and skipping the re-check there
          // would publish data nothing ever validated)
          var validatedSig: Option[Set[Constraint]] = None
          while (out.isEmpty) {
            val (prior, parentV, next, target) =
              if (ref == "main") {
                val (p, pv, n) = frontier(spark, root)
                (p, pv, n, MainRef: RefTarget)
              } else {
                val head = branchHead(spark, root, ref)
                val p = if (head == 0) Map.empty[String, Int]
                  else snapshot(spark, root, Some(head)).tables
                (p, head, nextFree(spark, root, head),
                  BranchTarget(ref, head): RefTarget)
              }
            val cs = constraintsAt(spark, root, parentV)
            if (!validatedSig.contains(cs.toSet)) {
              enforceConstraints(spark,
                t => spark.read.schema(tables(t).schema)
                  .parquet(stageDir(root, t, txid).toString),
                tables.keys.toSeq, cs)
              validatedSig = Some(cs.toSet)
            }
            try out = Some(publishStaged(spark, root,
              tables.keys.toSeq.sorted, txid, prior, next, evolve,
              parentV, target, constraints = cs,
              renames = renamesAt(spark, root, parentV),
              stagedSchemas = tables.map {
                case (n, df) => n -> df.schema }))
            catch {
              case e: CommitContentionException =>
                attempt += 1
                if (System.currentTimeMillis > deadline) throw e
                Thread.sleep(math.min(500L, 25L * attempt))
            }
          }
          out.get
      }
    } finally {
      // renamed-away dirs are gone; this clears audit-failure and
      // terminal-contention staging
      tables.keys.foreach(n => fs.delete(stageDir(root, n, txid), true))
    }
    // maintenance rides the commit: file indexes and stats sidecars
    // for the JUST-published versions, so downstream readers never
    // depend on a separate job remembering to run. After the flip by
    // design — the dirs are immutable, both builders are idempotent
    // (stage-and-swap / sidecar-exists), and a crash here degrades to
    // "index missing" (plain reads), never a torn transaction.
    // Carried-forward tables keep their existing sidecars untouched.
    if (tx.committed && (indexCols.nonEmpty || analyzeStats)) try {
      val snap = snapshot(spark, root, tx.version)
      indexCols.foreach { case (n, cols) =>
        indexTable(spark, root, snap, n, cols) }
      if (analyzeStats) analyze(spark, root, snap)
    } catch {
      // the transaction IS committed — losing its CatalogTx to a
      // maintenance failure would bait a retry into double-publishing
      // the same data; degrade loudly to "no index / no stats"
      // (plain scans) instead
      case e: Exception => System.err.println(
        s"[catalog] post-commit maintenance failed for " +
          s"v${tx.version.get} (transaction committed; readers " +
          s"degrade to plain scans / no stats): ${e.getMessage}")
    }
    tx
  }

  /** The persisted constraint set of a snapshot's catalog version. */
  def constraintsOf(spark: SparkSession, root: String,
      snap: Snapshot): Seq[Constraint] =
    catMeta(spark, root, snap.version).constraints

  /** Persist new [[Constraint]]s as one metadata-only commit on
    * `ref`. Like Delta's ADD CONSTRAINT, the EXISTING data must
    * already satisfy them (`validate = true`, the default, scans each
    * constrained table's current version once — a contract nobody
    * ever validated is worse than none); every later [[commit]] /
    * [[mergeBranch]] to the ref then enforces them automatically.
    * Duplicate (table, name) pairs are rejected — drop first.
    */
  def addConstraints(spark: SparkSession, root: String,
      cs: Seq[Constraint], ref: String = "main",
      validate: Boolean = true,
      contentionTimeoutMs: Long = 60000L): CatalogTx = {
    require(cs.nonEmpty, "addConstraints needs at least one constraint")
    cs.foreach { c =>
      require(c.kind == "check" || c.kind == "unique",
        s"unknown constraint kind '${c.kind}' on ${c.table}.${c.name}")
      require(c.name.nonEmpty && c.table.nonEmpty && c.expr.nonEmpty,
        "constraint table/name/expr must be non-empty")
    }
    publishMetadata(spark, root, ref, contentionTimeoutMs) {
      (prior, _, existing, renames) =>
        val dup = cs.map(c => (c.table, c.name))
          .intersect(existing.map(c => (c.table, c.name)))
        require(dup.isEmpty,
          s"constraint(s) already exist: ${dup.mkString(", ")} — " +
            "dropConstraint first")
        if (validate) enforceConstraints(spark,
          // validation reads the LOGICAL view: the constraint's
          // expression names today's columns, the bytes may predate
          // a rename
          t => applyChain(readVersionDir(spark, root, t, prior(t)),
            renameChain(renames, t, prior(t))),
          cs.map(_.table).distinct.filter(prior.contains), cs)
        (existing ++ cs, renames)
    }
  }

  /** Drop one persisted constraint (metadata-only commit). Loud when
    * it does not exist — a typo'd drop that "succeeds" leaves the
    * caller believing enforcement ended.
    */
  def dropConstraint(spark: SparkSession, root: String,
      table: String, name: String, ref: String = "main",
      contentionTimeoutMs: Long = 60000L): CatalogTx =
    publishMetadata(spark, root, ref, contentionTimeoutMs) {
      (_, _, existing, renames) =>
        require(existing.exists(c => c.table == table && c.name == name),
          s"no constraint $name on table $table to drop")
        (existing.filterNot(c => c.table == table && c.name == name),
          renames)
    }

  /** Rename a column of a catalog table — METADATA-ONLY (the Iceberg
    * answer to "rename without rewriting 100 TB"; the pre-refs
    * contract said "a rename is a new table" and this closes it): the
    * rename lands as a data-free catalog commit recording a
    * version-stamped mapping entry; [[read]] projects every OLDER
    * table version's physical name to the new logical name, versions
    * committed after it carry the new name in their bytes, and time
    * travel to a pre-rename catalog serves the old name untouched
    * (old catalogs don't carry the entry).
    *
    * Guards: `from` must be a live logical column; `to` must not
    * collide; a column referenced by a persisted [[Constraint]]
    * cannot be renamed (the stored expression would silently stop
    * matching — drop and re-add the constraint around the rename).
    * Index/stats sidecars stay keyed by each version's PHYSICAL
    * names; [[metaAgg]] translates, [[readWhere]] and skipping views
    * fall back to plain (row-identical) reads for renamed tables.
    */
  def renameColumn(spark: SparkSession, root: String, table: String,
      from: String, to: String, ref: String = "main",
      contentionTimeoutMs: Long = 60000L): CatalogTx = {
    require(from != to, "rename to the same name is a no-op")
    publishMetadata(spark, root, ref, contentionTimeoutMs) {
      (prior, next, cs, renames) =>
        val tv = prior.getOrElse(table,
          throw new IllegalArgumentException(
            s"table $table does not exist on ref $ref"))
        // the table's current LOGICAL columns (footer read only)
        val logical = applyChain(
          readVersionDir(spark, root, table, tv),
          renameChain(renames, table, tv)).columns.toSet
        require(logical.contains(from),
          s"column $from not in table $table (has: " +
            s"${logical.toSeq.sorted.mkString(", ")})")
        require(!logical.contains(to),
          s"column $to already exists in table $table")
        val word = ("(?i)(?<![A-Za-z0-9_])" +
          java.util.regex.Pattern.quote(from) +
          "(?![A-Za-z0-9_])").r
        val referencing = cs.filter(c => c.table == table && (
          c.kind match {
            case "unique" => c.expr.split(",").map(_.trim)
              .contains(from)
            case _ => word.findFirstIn(c.expr).isDefined
          }))
        require(referencing.isEmpty,
          s"column $from is referenced by constraint(s) " +
            s"${referencing.map(_.name).mkString(", ")} — drop and " +
            "re-add them around the rename (a stored expression " +
            "would silently stop matching)")
        (cs, renames :+ Rename(next, table, from, to))
    }
  }

  /** Shared retry loop for metadata-only commits (constraint set /
    * column mapping): computes the frontier, hands (prior map, the
    * version being claimed, existing constraints, existing renames)
    * to `f`, and publishes the returned pair as a data-free catalog
    * version on the ref.
    */
  private def publishMetadata(spark: SparkSession, root: String,
      ref: String, contentionTimeoutMs: Long)(
      f: (Map[String, Int], Int, Seq[Constraint], Seq[Rename]) =>
        (Seq[Constraint], Seq[Rename]))
      : CatalogTx = {
    val deadline = System.currentTimeMillis + contentionTimeoutMs
    var attempt = 0
    var out: Option[CatalogTx] = None
    while (out.isEmpty) {
      val (prior, parentV, next, target) =
        if (ref == "main") {
          val (p, pv, n) = frontier(spark, root)
          (p, pv, n, MainRef: RefTarget)
        } else {
          val head = branchHead(spark, root, ref)
          val p = if (head == 0) Map.empty[String, Int]
            else snapshot(spark, root, Some(head)).tables
          (p, head, nextFree(spark, root, head),
            BranchTarget(ref, head): RefTarget)
        }
      val (mergedCs, mergedRn) = f(prior, next,
        constraintsAt(spark, root, parentV),
        renamesAt(spark, root, parentV))
      try out = Some(publishStaged(spark, root, Seq.empty,
        txid = "meta", prior, next, evolve = true, parent = parentV,
        target = target, constraints = mergedCs, renames = mergedRn,
        stagedSchemas = Map.empty))
      catch {
        case e: CommitContentionException =>
          attempt += 1
          if (System.currentTimeMillis > deadline) throw e
          Thread.sleep(math.min(500L, 25L * attempt))
      }
    }
    out.get
  }

  /** Publish a SINGLE-table transaction whose staged content is
    * DERIVED from the table's current version — the shared engine
    * under [[upsertTable]], [[deleteWhere]], and [[optimizeTable]].
    * The race it exists to close: a derivation computed against
    * version v that publishes AFTER a concurrent writer landed v+1
    * silently erases that writer's rows (classic lost update — the
    * optimistic-concurrency conflict Delta detects with
    * ConcurrentModificationException; here the loop RE-DERIVES
    * instead of failing). `derive(base, chain, dst)` writes the
    * staged content for base into `dst` and returns the schema of the
    * flat parquet dir it wrote — or None when only inference can tell
    * it (a hive-partitioned layout, whose partition-column types come
    * from directory names); the loop re-invokes it whenever the
    * table's version at the claimed frontier differs from the one the
    * stage dir was derived for, so what lands is always a derivation
    * of the version it replaces. Constraint enforcement (`enforce`)
    * follows [[commit]]'s stage-once shape.
    */
  private[graft] def commitDerived(spark: SparkSession, root: String,
      name: String, ref: String, contentionTimeoutMs: Long,
      evolve: Boolean, enforce: Boolean,
      extraTables: Map[String, DataFrame] = Map.empty)(
      derive: (Option[Int], Seq[(String, String)], String) =>
        Option[org.apache.spark.sql.types.StructType])
      : CatalogTx = {
    require(!extraTables.contains(name),
      s"extraTables may not shadow the derived table $name")
    val fs = fsOf(spark, root)
    val txid = java.util.UUID.randomUUID().toString.replace("-", "")
      .take(12)
    val deadline = System.currentTimeMillis + contentionTimeoutMs
    var attempt = 0
    var stagedFor: Option[Option[Int]] = None
    var schemas: Map[String, org.apache.spark.sql.types.StructType] =
      extraTables.map { case (n, df) => n -> df.schema }
    var validatedSig: Option[Set[Constraint]] = None
    var out: Option[CatalogTx] = None
    try {
      // base-independent side tables (e.g. a streaming tick's replay
      // guard) stage ONCE up front and publish in the SAME claim as
      // the derived table — all-or-nothing with the derivation
      extraTables.foreach { case (n, df) =>
        df.write.mode("errorifexists")
          .parquet(stageDir(root, n, txid).toString)
      }
      while (out.isEmpty) {
        val (prior, parentV, next, target) =
          if (ref == "main") {
            val (p, pv, n) = frontier(spark, root)
            (p, pv, n, MainRef: RefTarget)
          } else {
            val head = branchHead(spark, root, ref)
            val p = if (head == 0) Map.empty[String, Int]
              else snapshot(spark, root, Some(head)).tables
            (p, head, nextFree(spark, root, head),
              BranchTarget(ref, head): RefTarget)
          }
        val base = prior.get(name)
        val rn = renamesAt(spark, root, parentV)
        if (!stagedFor.contains(base)) {
          fs.delete(stageDir(root, name, txid), true)
          // derivations read and WRITE the logical names: the staged
          // version is a fresh physical generation, so renames older
          // than it fold into its bytes (correctly not re-applied on
          // read — its tv postdates their atVersion)
          val dst = stageDir(root, name, txid).toString
          val sch = derive(base, base.map(v => renameChain(rn, name, v))
            .getOrElse(Seq.empty), dst)
            .getOrElse(spark.read.parquet(dst).schema)
          schemas += name -> sch
          stagedFor = Some(base)
          validatedSig = None
        }
        val cs = constraintsAt(spark, root, parentV)
        if (enforce && !validatedSig.contains(cs.toSet)) {
          enforceConstraints(spark,
            t => spark.read.schema(schemas(t))
              .parquet(stageDir(root, t, txid).toString),
            (name +: extraTables.keys.toSeq), cs)
          validatedSig = Some(cs.toSet)
        }
        try out = Some(publishStaged(spark, root,
          (name +: extraTables.keys.toSeq).sorted, txid,
          prior, next, evolve, parentV, target, constraints = cs,
          renames = rn, stagedSchemas = schemas))
        catch {
          case e: CommitContentionException =>
            attempt += 1
            if (System.currentTimeMillis > deadline) throw e
            Thread.sleep(math.min(500L, 25L * attempt))
        }
      }
      out.get
    } finally (name +: extraTables.keys.toSeq).foreach(n =>
      fs.delete(stageDir(root, n, txid), true))
  }

  /** Row-level MERGE INTO on a catalog table: rows of `updates` whose
    * `keys` match an existing row REPLACE it, the rest append — the
    * DML surface over the commit protocol (publish = INSERT OVERWRITE
    * of a table, upsert/delete = this family). Derived-CAS safe: a
    * concurrent commit to the same table triggers a re-merge against
    * ITS rows instead of silently erasing them, and the target ref's
    * persisted [[Constraint]]s are enforced on the MERGED result
    * before anything claims. A missing table makes the upsert a plain
    * first publish. At 100 TB note the documented cost: this is
    * copy-on-write at table-version granularity (the store's
    * immutable-snapshot contract); deletion-vector merge-on-read
    * lives in the Layout tier for the update-a-few-rows shape.
    */
  def upsertTable(spark: SparkSession, root: String, name: String,
      updates: DataFrame, keys: Seq[String], ref: String = "main",
      evolve: Boolean = false,
      contentionTimeoutMs: Long = 60000L): CatalogTx =
    upsertTableWith(spark, root, name, updates, keys, Map.empty, ref,
      evolve, contentionTimeoutMs)

  /** [[upsertTable]] plus base-independent side tables published in
    * the SAME transaction — the streaming-tick shape: the merged
    * table and its `tick_meta` replay guard flip together, and the
    * derived-CAS loop re-merges when a concurrent writer moves the
    * base (the lost-update race a snapshot-read-then-commit tick
    * had).
    */
  private[graft] def upsertTableWith(spark: SparkSession, root: String,
      name: String, updates: DataFrame, keys: Seq[String],
      extraTables: Map[String, DataFrame], ref: String = "main",
      evolve: Boolean = false,
      contentionTimeoutMs: Long = 60000L): CatalogTx = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    keys.foreach(k => require(updates.columns.contains(k),
      s"key column $k not in the updates frame"))
    commitDerived(spark, root, name, ref, contentionTimeoutMs, evolve,
      enforce = true, extraTables = extraTables) { (base, chain, dst) =>
      val merged = base match {
        case Some(v) => graft.operators.Incremental.merge(
          applyChain(readVersionDir(spark, root, name, v), chain),
          updates, keys)
        case None => updates
      }
      merged.write.mode("errorifexists").parquet(dst)
      Some(merged.schema)
    }
  }

  /** Row-level INSERT INTO (append) on a catalog table: `rows` are
    * added, existing rows carry unchanged — the third DML verb next to
    * [[upsertTable]] (merge) and full-table publish (INSERT
    * OVERWRITE = [[commit]]). Derived-CAS safe and
    * constraint-enforced pre-claim like the upsert (an appended batch
    * can break a CHECK or a UNIQUE against the base, so the MERGED
    * result validates, not just the batch). A missing table makes the
    * insert a plain first publish. Same copy-on-write cost note as
    * [[upsertTable]].
    */
  def appendTable(spark: SparkSession, root: String, name: String,
      rows: DataFrame, ref: String = "main",
      contentionTimeoutMs: Long = 60000L): CatalogTx =
    commitDerived(spark, root, name, ref, contentionTimeoutMs,
      evolve = false, enforce = true) { (base, chain, dst) =>
      val out = base match {
        case Some(v) => applyChain(
          readVersionDir(spark, root, name, v), chain)
          .unionByName(rows)
        case None => rows
      }
      out.write.mode("errorifexists").parquet(dst)
      Some(out.schema)
    }

  /** Row-level DELETE on a catalog table: rows where `predicate` is
    * TRUE are removed; FALSE and NULL rows stay (SQL DELETE
    * semantics). Derived-CAS safe like [[upsertTable]]; constraints
    * are not re-enforced (a subset of validated rows cannot violate a
    * CHECK, and UNIQUE only loses duplicates). History stays intact —
    * the GDPR-grade flow that must also purge HISTORY is the
    * Layout-tier erasure + vacuum story (store_erasure_gate).
    */
  def deleteWhere(spark: SparkSession, root: String, name: String,
      predicate: org.apache.spark.sql.Column, ref: String = "main",
      contentionTimeoutMs: Long = 60000L): CatalogTx =
    commitDerived(spark, root, name, ref, contentionTimeoutMs,
      evolve = false, enforce = false) { (base, chain, dst) =>
      val v = base.getOrElse(throw new IllegalArgumentException(
        s"table $name does not exist on ref $ref"))
      import org.apache.spark.sql.functions.{coalesce, lit, not}
      val kept = applyChain(readVersionDir(spark, root, name, v), chain)
        .filter(coalesce(not(predicate), lit(true)))
      kept.write.mode("errorifexists").parquet(dst)
      Some(kept.schema)
    }

  /** Catalog-integrated OPTIMIZE — the Delta OPTIMIZE / Iceberg
    * rewrite_data_files maintenance op as a TRANSACTION: the rewritten
    * layout lands as a new table version through the full claim
    * protocol (readers never see a half-compacted dir, time travel to
    * the pre-optimize version keeps serving the old bytes until
    * vacuum), and a concurrent writer triggers re-derivation instead
    * of being erased. Two modes:
    *
    *  - default: small-file compaction via [[graft.operators.Layout
    *    .compactTo]] (or `compactPartitioned` when the version dir is
    *    hive-partitioned — auto-detected): well-sized files byte-copy,
    *    only the small tail re-encodes — rewriting the 90% of a 100 TB
    *    table that is already well-sized is the classic compaction
    *    mistake;
    *  - `zorderCols`: full clustering rewrite via `zorderWrite`
    *    (every file owns a tight multi-dim bounding box, the IO
    *    feed for min/max skipping); partitioned layouts need
    *    `partitionBy` named explicitly.
    *
    * Pass `indexCols`/`analyzeStats` to rebuild the skipping index
    * and stats sidecar on the optimized version in the same call —
    * they bind to version dirs, so the optimized version starts
    * without them otherwise.
    */
  def optimizeTable(spark: SparkSession, root: String, name: String,
      targetMb: Int = 128, zorderCols: Seq[String] = Nil,
      zorderBits: Int = 16, partitionBy: Seq[String] = Nil,
      zorderFiles: Option[Int] = None,
      ref: String = "main", indexCols: Seq[String] = Nil,
      analyzeStats: Boolean = false,
      contentionTimeoutMs: Long = 60000L): CatalogTx = {
    require(targetMb > 0, s"targetMb must be positive: $targetMb")
    val fs = fsOf(spark, root)
    val targetBytes = targetMb.toLong << 20
    val tx = commitDerived(spark, root, name, ref, contentionTimeoutMs,
      evolve = false, enforce = false) { (base, chain, dst) =>
      val v = base.getOrElse(throw new IllegalArgumentException(
        s"table $name does not exist on ref $ref — nothing to optimize"))
      val src = tableDir(root, name, v)
      def bytesOf = math.max(1L, fs.listStatus(src).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum)
      // the staged schema is the base's logical one for every FLAT
      // rewrite; a hive-partitioned result returns None and is
      // inferred, since its partition-column types come from
      // directory names
      if (zorderCols.nonEmpty) {
        val df = applyChain(readVersionDir(spark, root, name, v), chain)
        val nFiles = zorderFiles.getOrElse(math.max(1, math.ceil(
          bytesOf.toDouble / targetBytes).toInt))
        graft.operators.Layout.zorderWrite(df, zorderCols, zorderBits,
          nFiles, dst, partitionBy)
        if (partitionBy.isEmpty) Some(df.schema) else None
      } else if (chain.nonEmpty) {
        // the first OPTIMIZE after a rename folds the mapping into a
        // fresh physical generation — a full logical rewrite (the
        // byte-copy rule can't keep files whose embedded names are
        // stale); later optimizes byte-copy again
        val df = applyChain(readVersionDir(spark, root, name, v), chain)
        df.repartition(math.max(1, math.ceil(
            bytesOf.toDouble / targetBytes).toInt))
          .write.mode("errorifexists").parquet(dst)
        Some(df.schema)
      } else {
        val partitioned = fs.listStatus(src).exists(e =>
          e.isDirectory && { val n = e.getPath.getName
            !n.startsWith("_") && !n.startsWith(".") })
        if (partitioned) {
          graft.operators.Layout.compactPartitioned(spark,
            src.toString, dst, targetBytes)
          None
        } else {
          graft.operators.Layout.compactTo(spark, src.toString, dst,
            targetBytes)
          Some(readVersionDir(spark, root, name, v).schema)
        }
      }
    }
    // maintenance rides the optimize like it rides commit: both
    // builders are idempotent and bind to the NEW immutable version
    if (tx.committed && (indexCols.nonEmpty || analyzeStats)) try {
      val snap = snapshot(spark, root, tx.version)
      if (indexCols.nonEmpty)
        indexTable(spark, root, snap, name, indexCols)
      if (analyzeStats) analyze(spark, root, snap)
    } catch {
      case e: Exception => System.err.println(
        s"[catalog] post-optimize maintenance failed for " +
          s"v${tx.version.get} (transaction committed; readers " +
          s"degrade to plain scans / no stats): ${e.getMessage}")
    }
    tx
  }

  /** What [[mergeBranch]] published: the new main catalog version,
    * whether main had not advanced since the fork (a "fast-forward"
    * shape — same zero-copy publish either way), and the tables the
    * branch contributed.
    */
  final case class Merge(version: Int, fastForward: Boolean,
      tables: Seq[String])

  /** Thrown when a table changed on BOTH the branch and main since
    * the fork point. Not retryable without a decision: rebase the
    * branch (re-run its job on a fresh branch from current main) or
    * pass `force = true` — branch wins, table-level last-writer-wins.
    */
  final class MergeConflictException(val tables: Seq[String])
    extends IllegalStateException(
      s"merge conflict: table(s) ${tables.mkString(", ")} changed on " +
        "BOTH the branch and main since the fork point — rebase the " +
        "branch or pass force = true (branch wins)")

  /** Publish a branch's work to main as ONE metadata-only commit —
    * the write-audit-publish close: data was staged and audited on
    * the branch; the merge catalog's map simply POINTS at the
    * branch's immutable table versions (zero bytes copied, Nessie's
    * merge model). Goes through the full claim + forward-only-flip
    * protocol, so it serializes correctly with concurrent main
    * commits — there is deliberately NO pointer-jump fast-forward: a
    * raw jump to the branch head races a concurrent main committer
    * whose map never saw the branch (lost update); a merge COMMIT
    * either claims before it (the main committer's frontier adopts
    * the merge) or retries after it (the merge re-reads the new
    * frontier).
    *
    * Merge set: the head-vs-fork DIFF of the branch's map (covers
    * plain commits, upserts, and branch RESTOREs alike). Conflict
    * rule, table-granular: a merged table whose main version moved
    * since the fork — EXCEPT to a version this branch itself
    * published (its own earlier merge; re-merging a long-lived branch
    * is clean) — → [[MergeConflictException]] unless `force` (branch
    * wins). Tables only main changed carry forward untouched; the
    * branch ref stays (drop it separately, or keep committing).
    * Refused loudly, never decided silently: branch-removed tables
    * (no tombstones in the map model) and branch-side column renames
    * touching merged tables (renames are per-ref metadata —
    * re-apply on main). A branch with no map differences no-ops.
    * Metadata-only branch commits (constraints/renames on untouched
    * tables) never merge — re-apply them on main.
    */
  def mergeBranch(spark: SparkSession, root: String, branch: String,
      force: Boolean = false, evolve: Boolean = false,
      contentionTimeoutMs: Long = 60000L): Merge = {
    validateRefName(branch)
    val head = branchHead(spark, root, branch)
    require(head > 0, s"branch $branch has no commits to merge")
    // the branch-local chain walk serves two purposes: the fork point
    // (first non-branch ancestor) and the set of table versions the
    // branch ITSELF published (per table) — the conflict exemption
    // that makes a SECOND merge of the same branch clean (main's
    // "change" to the table was this branch's own earlier merge)
    var v = head
    var published = Map.empty[String, Set[Int]]
    var headRenames: Seq[Rename] = Seq.empty
    var firstHop = true
    var forkV = 0
    var walking = true
    while (walking) {
      if (v <= 0) { forkV = 0; walking = false }
      else {
        val m = catMeta(spark, root, v)
        if (m.ref == branch) {
          if (firstHop) { headRenames = m.renames; firstHop = false }
          m.tables.foreach { case (n, tv) =>
            if (tv == m.version)
              published = published.updated(n,
                published.getOrElse(n, Set.empty) + tv)
          }
          v = m.parent
        } else { forkV = v; walking = false }
      }
    }
    val headMap = snapshot(spark, root, Some(head)).tables
    val forkMeta = if (forkV == 0) None
      else Some(catMeta(spark, root, forkV))
    val forkMap = forkMeta.map(_.tables).getOrElse(Map.empty)
    // what merges = every entry the branch WORLD differs on from its
    // fork — head-vs-fork DIFF, not just own-version entries, so a
    // branch RESTORE to an older table version merges as the change
    // it is instead of being silently skipped
    val branchEntries = headMap.filter { case (n, tv) =>
      !forkMap.get(n).contains(tv) }
    // the map model has no tombstones: a table present at the fork
    // but absent at the branch head (a branch restore past its
    // creation) cannot merge as a DELETE — loud, never a silent
    // resurrect-or-drop decision made for the caller
    val removed = (forkMap.keySet -- headMap.keySet).toSeq.sorted
    require(removed.isEmpty,
      s"branch $branch removed table(s) ${removed.mkString(", ")} " +
        "relative to its fork — the catalog map has no tombstones, " +
        "so a merge cannot publish a delete; restore main explicitly")
    if (branchEntries.isEmpty)
      return Merge(currentVersion(spark, root).getOrElse(0),
        fastForward = true, tables = Seq.empty) // nothing to publish
    // branch-side column renames are per-ref metadata and do NOT
    // merge; when one touches a table being merged, silence would
    // lose it (the schema guard only catches REWRITTEN tables). The
    // refusal is checked against MAIN's chain inside the publish
    // loop: a rename main ALREADY carries (the documented fix —
    // renameColumn on main first) is exempt
    val forkRenames = forkMeta.map(_.renames).getOrElse(Seq.empty)
    val branchOnlyRenames = headRenames.diff(forkRenames)
      .filter(r => branchEntries.contains(r.table))
    val deadline = System.currentTimeMillis + contentionTimeoutMs
    var attempt = 0
    var out: Option[Merge] = None
    // MAIN's persisted constraints gate the merge: the branch's data
    // was validated against the BRANCH's set at its own commits, but
    // main is the publish point — merged tables must satisfy main's
    // contracts (one scan per merged×constrained table, the only
    // non-metadata cost of a merge, and only when such constraints
    // exist). Branch-side constraint ADDITIONS do not merge —
    // constraints are per-ref metadata; re-add them on main.
    var validatedSig: Option[Set[Constraint]] = None
    while (out.isEmpty) {
      val (prior, parentV, next) = frontier(spark, root)
      // conflict = main's version moved since the fork AND not to a
      // version this branch itself published (its own earlier merge)
      val conflicts = branchEntries.keys.toSeq.sorted.filter { n =>
        val cur = prior.get(n)
        cur != forkMap.get(n) &&
          !cur.exists(published.getOrElse(n, Set.empty).contains)
      }
      if (conflicts.nonEmpty && !force)
        throw new MergeConflictException(conflicts)
      val cs = constraintsAt(spark, root, parentV)
      val rn = renamesAt(spark, root, parentV)
      val offending = branchOnlyRenames.filterNot(r =>
        rn.exists(m => m.table == r.table && m.from == r.from &&
          m.to == r.to))
      require(offending.isEmpty,
        s"branch $branch renamed column(s) of merged table(s) " +
          offending.map(r => s"${r.table}.${r.from}->${r.to}")
            .mkString(", ") +
          " — renames are per-ref metadata and do not merge; apply " +
          "the same rename on main (renameColumn) BEFORE merging")
      // what main will SERVE for a merged table is the branch
      // version's bytes through MAIN's rename chain — that logical
      // view must satisfy main's schema contract against main's
      // current logical view (a branch that renamed/dropped columns
      // out-of-band cannot silently fork main's schema history)
      branchEntries.foreach { case (t, tv) =>
        prior.get(t).foreach { pv =>
          assertSchemaCompatible(
            applyChain(readVersionDir(spark, root, t, tv),
              renameChain(rn, t, tv)).schema,
            applyChain(readVersionDir(spark, root, t, pv),
              renameChain(rn, t, pv)).schema,
            t, pv, evolve)
        }
      }
      if (!validatedSig.contains(cs.toSet)) {
        enforceConstraints(spark,
          t => applyChain(
            readVersionDir(spark, root, t, branchEntries(t)),
            renameChain(rn, t, branchEntries(t))),
          branchEntries.keys.toSeq, cs)
        validatedSig = Some(cs.toSet)
      }
      val ff = parentV == forkV
      try {
        publishStaged(spark, root, Seq.empty, txid = "merge",
          prior, next, evolve = true, parent = parentV,
          target = MainRef, extraEntries = branchEntries,
          constraints = cs, renames = rn, stagedSchemas = Map.empty)
        out = Some(Merge(next, ff, branchEntries.keys.toSeq.sorted))
      } catch {
        case e: CommitContentionException =>
          attempt += 1
          if (System.currentTimeMillis > deadline) throw e
          Thread.sleep(math.min(500L, 25L * attempt))
      }
    }
    out.get
  }

  /** [[commit]]'s write path at a SPECIFIC version — package-visible
    * so the claim collision is directly testable (two racers
    * computing the same `next` meet at the exclusive claim; going
    * through [[commit]] a pre-planted claim is waited on until the
    * contention timeout).
    */
  private[graft] def commitAs(spark: SparkSession, root: String,
      tables: Map[String, DataFrame],
      audits: Seq[Audit], next: Int,
      evolve: Boolean = false): CatalogTx = {
    require(tables.nonEmpty, "a transaction must publish at least one table")
    audits.foreach(a => require(tables.contains(a.table),
      s"audit ${a.name} names ${a.table}, not in this transaction " +
        "(committed tables are immutable — audit them at their own commit)"))
    val fs = fsOf(spark, root)
    val txid = java.util.UUID.randomUUID().toString.replace("-", "")
      .take(12)
    try {
      graft.Par.all(tables.toSeq.map { case (name, df) => () =>
        df.write.mode("errorifexists")
          .parquet(stageDir(root, name, txid).toString)
      })
      val failed = audits.find(a => !a.check(
        spark.read.schema(tables(a.table).schema)
          .parquet(stageDir(root, a.table, txid).toString)))
      failed match {
        case Some(a) => CatalogTx(None, Some(a.name))
        case None =>
          val prior =
            (try Some(snapshot(spark, root, Some(next - 1)).tables)
             catch { case _: Exception => None })
              .orElse(currentVersion(spark, root)
                .map(v => snapshot(spark, root, Some(v)).tables))
              .getOrElse(Map.empty)
          // tolerant metadata carry: this TEST SEAM commits at a
          // caller-chosen number whose predecessor may be vacuumed
          // (unlike the real paths, which always read the live
          // frontier's parent — strict there)
          val (cs, rn) =
            try (constraintsAt(spark, root, next - 1),
              renamesAt(spark, root, next - 1))
            catch { case _: Exception =>
              (Seq.empty[Constraint], Seq.empty[Rename]) }
          publishStaged(spark, root, tables.keys.toSeq.sorted, txid,
            prior, next, evolve, constraints = cs, renames = rn,
            stagedSchemas = tables.map {
              case (n, df) => n -> df.schema })
      }
    } finally {
      tables.keys.foreach(n => fs.delete(stageDir(root, n, txid), true))
    }
  }

  /** Where a publish lands: the main pointer (forward-only flip) or a
    * branch ref (equality CAS against the head the transaction built
    * on). Tags are not targets — they're immutable.
    */
  private sealed trait RefTarget
  private case object MainRef extends RefTarget
  private final case class BranchTarget(name: String,
      expectedHead: Int) extends RefTarget

  /** A branch's current head for a commit to build on. Loud on a
    * missing ref, and louder on a TAG (the likely user error: tags
    * are immutable names, not writable lines of history).
    */
  private def branchHead(spark: SparkSession, root: String,
      name: String): Int = {
    val fs = fsOf(spark, root)
    if (!fs.exists(refFile(root, name))) {
      if (legacyTagVersion(fs, root, name).isDefined)
        throw new IllegalArgumentException(
          s"$name is a TAG — tags are immutable; commit to a branch")
      throw new IllegalArgumentException(
        s"unknown branch $name under $root — createBranch first")
    }
    parseRef(readSmall(fs, refFile(root, name))) match {
      case ("tag", _) => throw new IllegalArgumentException(
        s"$name is a TAG — tags are immutable; commit to a branch")
      case (_, v) => v
    }
  }

  /** Enforce `cs` against the tables `readDf` can serve (only
    * constraints whose table is in `names`). CHECK: a row violates
    * only on FALSE (`filter(!expr)` — NULL passes, ANSI CHECK).
    * UNIQUE: one aggregation, first duplicate key reported. Both
    * report a concrete offending row/key — a contract message the
    * upstream job's owner can act on, never a bare boolean.
    */
  private def enforceConstraints(spark: SparkSession,
      readDf: String => DataFrame, names: Seq[String],
      cs: Seq[Constraint]): Unit = {
    import org.apache.spark.sql.functions.{col, expr, not}
    cs.filter(c => names.contains(c.table)).foreach { c =>
      val df = readDf(c.table)
      c.kind match {
        case "check" =>
          // collect-bound: limit(1) — one offending row for the message
          val bad = df.filter(not(expr(c.expr))).limit(1).collect()
          if (bad.nonEmpty) throw new ConstraintViolationException(
            c.table, c.name,
            s"constraint ${c.name} (CHECK ${c.expr}) violated by " +
              s"table ${c.table}: e.g. ${bad(0)}")
        case "unique" =>
          val cols = c.expr.split(",").toSeq.map(_.trim)
          // ANSI UNIQUE: NULL keys are mutually DISTINCT — two rows
          // with a NULL key never conflict (the same direction as
          // CHECK's NULL-passes; notNull closes nulls explicitly)
          val nonNull = cols.map(col(_).isNotNull)
            .reduce(_ && _)
          // collect-bound: limit(1) — one duplicate key for the message
          val dup = df.filter(nonNull).groupBy(cols.map(col): _*)
            .count().filter(col("count") > 1).limit(1).collect()
          if (dup.nonEmpty) throw new ConstraintViolationException(
            c.table, c.name,
            s"constraint ${c.name} (UNIQUE ${c.expr}) violated by " +
              s"table ${c.table}: key ${dup(0)} appears more than once")
        case other => throw new IllegalStateException(
          s"unknown constraint kind '$other' on ${c.table}.${c.name} " +
            "— written by a newer engine?")
      }
    }
  }

  /** The constraint set a publish at `parent` must enforce (the
    * parent catalog's persisted set; empty below the first commit or
    * under a concurrent vacuum of historic metadata).
    */
  /** The constraint set a publish at `parent` must enforce and carry.
    * STRICT on read failure: every caller passes the LIVE frontier's
    * parent (protected from vacuum by the keep-set), so an exception
    * here is a real IO/corruption problem — swallowing it would
    * silently publish a catalog with NO constraints and every later
    * commit would carry that empty set forward, ending enforcement
    * with no error.
    */
  private def constraintsAt(spark: SparkSession, root: String,
      parent: Int): Seq[Constraint] =
    if (parent <= 0) Seq.empty
    else catMeta(spark, root, parent).constraints

  /** The column-mapping chain a publish at `parent` carries forward —
    * strict like [[constraintsAt]]: dropping it silently would serve
    * old physical names on every pre-rename version.
    */
  private def renamesAt(spark: SparkSession, root: String,
      parent: Int): Seq[Rename] =
    if (parent <= 0) Seq.empty
    else catMeta(spark, root, parent).renames

  /** Test seam: runs after the catalog file completes, before the
    * pointer flip — lets the concurrency specs hold a writer in the
    * window where its transaction is complete but unflipped.
    */
  private[graft] var beforeFlip: Int => Unit = _ => ()

  /** The METADATA-ONLY publish of already-staged data at a specific
    * version: claim, per-table rename into `v=next`, catalog file,
    * pointer flip. Throws [[CommitContentionException]] (with every
    * rename undone, so the staging dirs are intact for a retry) when
    * the version was lost to another writer; never touches data it
    * did not stage.
    */
  /** Commit-time schema contract, checked against the EXACT prior
    * map a publish attempt builds on (a contention retry re-checks
    * against the new frontier — the table it stacks on may have
    * evolved underneath it). Rules, Delta-shaped:
    *
    *  - dropping or retyping a committed column is ALWAYS rejected —
    *    history is immutable and readers resolve columns by name, so
    *    a rename/retype is a new table, not an evolution;
    *  - adding columns is allowed only under an explicit
    *    `evolve = true` (schema ENFORCEMENT is the default: the
    *    common 100 TB failure is an upstream job silently growing a
    *    column and every downstream consumer discovering it in prod);
    *  - column order and nullability are not contractual
    *    (`catalogString` comparison): parquet resolves by name, and
    *    each catalog version serves its OWN files only (no
    *    cross-version file merge), so a nullability flip cannot
    *    corrupt a read.
    *
    * Runs BEFORE the claim — a wrong-shaped commit never blocks
    * another writer, and the rollback leaves the store
    * byte-identical. No data is read: the staged schema comes from
    * the publisher, the committed one from the schema memo.
    */
  private def checkSchemas(spark: SparkSession, root: String,
      names: Seq[String], prior: Map[String, Int], evolve: Boolean,
      renames: Seq[Rename],
      stagedSchemas: Map[String,
        org.apache.spark.sql.types.StructType]): Unit =
    names.foreach { n =>
      prior.get(n).foreach { pv =>
        // the publisher hands over the schema of what it staged, so
        // the staged side costs no footer read; the committed side is
        // a memo hit for every dir this JVM published
        val staged = stagedSchemas(n)
        // the committed side compares by its LOGICAL names — the
        // column-mapping chain applied, so a commit after a rename
        // must carry the renamed name (its staged bytes ARE the new
        // physical generation)
        val committed = applyChain(
          readVersionDir(spark, root, n, pv),
          renameChain(renames, n, pv)).schema
        assertSchemaCompatible(staged, committed, n, pv, evolve)
      }
    }

  /** The enforcement/evolution contract over two resolved (logical)
    * schemas — shared by [[checkSchemas]] (staged vs committed) and
    * [[mergeBranch]] (branch table version vs main's logical view).
    */
  private def assertSchemaCompatible(
      staged: org.apache.spark.sql.types.StructType,
      committed: org.apache.spark.sql.types.StructType,
      n: String, pv: Int, evolve: Boolean): Unit = {
    val sT = staged.fields
      .map(f => f.name -> f.dataType.catalogString).toMap
    val cT = committed.fields
      .map(f => f.name -> f.dataType.catalogString).toMap
    val dropped = (cT.keySet -- sT.keySet).toSeq.sorted
    if (dropped.nonEmpty) throw new SchemaEvolutionException(
      s"commit drops committed column(s) ${dropped.mkString(", ")} " +
        s"of table $n (v$pv) — dropping a column is a " +
        "new table, not an evolution (renameColumn is the " +
        "metadata-only rename)")
    val retyped = cT.keys.toSeq.sorted
      .flatMap(k => sT.get(k).filter(_ != cT(k)).map(t =>
        s"$k: ${cT(k)} -> $t"))
    if (retyped.nonEmpty) throw new SchemaEvolutionException(
      s"commit retypes committed column(s) of table $n (v$pv): " +
        s"${retyped.mkString("; ")} — a type change is a new " +
        "table, not an evolution")
    val added = (sT.keySet -- cT.keySet).toSeq.sorted
    if (added.nonEmpty && !evolve)
      throw new SchemaEvolutionException(
        s"commit adds column(s) ${added.mkString(", ")} to table " +
          s"$n (v$pv) under schema enforcement — additive " +
          "evolution must be explicit: pass evolve = true")
  }

  private def publishStaged(spark: SparkSession, root: String,
      names: Seq[String], txid: String,
      prior: Map[String, Int], next: Int,
      evolve: Boolean = false,
      parent: Int = -1, target: RefTarget = MainRef,
      extraEntries: Map[String, Int] = Map.empty,
      constraints: Seq[Constraint] = Seq.empty,
      renames: Seq[Rename] = Seq.empty,
      stagedSchemas: Map[String,
        org.apache.spark.sql.types.StructType]): CatalogTx = {
    // the catalog-format guard lives HERE, on the choke point every
    // publish path funnels through (commit, commitDerived/upsert-
    // first-publish, merge extras) — a tab/newline in a table name
    // would corrupt the body's split-parse and brick every later
    // snapshot; a leading '#' would silently vanish into the header
    // namespace
    (names ++ extraEntries.keys).foreach(n =>
      require(!n.startsWith("#") && !n.contains("\t") &&
        !n.contains("\n") && !n.contains("/"),
        s"table name '$n' would corrupt the catalog file format " +
          "(no leading '#', no tab/newline/slash)"))
    val fs = fsOf(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    checkSchemas(spark, root, names, prior, evolve, renames,
      stagedSchemas)
    val claim = claimFile(root, next)
    try FsAtomic.createExclusive(fs, claim)
    catch {
      case e: java.io.IOException =>
        throw new CommitContentionException(next, e)
    }
    val tmp = new org.apache.hadoop.fs.Path(root, s"_cat/c=$next.tmp")
    var renamed = List.empty[String]
    var completedCat = false
    try {
      // stale-claim guard: a claim at or below the pointer (vacuum
      // freed the number, or a caller-provided historical version)
      // must never complete — the pointer only moves forward, so the
      // transaction could not land; fail before any rename. MAIN
      // only: branch numbers interleave with main's, so a branch
      // commit legitimately claims below a racing pointer — its ref
      // CAS is the integrity check there.
      if (target == MainRef &&
          currentVersion(spark, root).exists(_ >= next))
        throw new CommitContentionException(next, null)
      // c=next existing while we hold a FRESH claim means version
      // `next` fully committed between our frontier walk and our
      // claim (its writer flipped and released) — rewalk, don't touch
      if (fs.exists(catFile(root, next)))
        throw new CommitContentionException(next, null)
      names.foreach { n =>
        FsAtomic.renameNoReplace(fs, conf, stageDir(root, n, txid),
          tableDir(root, n, next))
        // the memo entry is born here, with the dir: every version
        // dir comes into being through exactly this rename, and the
        // put REPLACES whatever a store dropped and re-created at the
        // same root (version numbers restart) left at this path
        dirSchemaMemo.put(tableDir(root, n, next).toString,
          asServed(stagedSchemas(n)))
        renamed ::= n
      }
      val map = prior ++ names.map(_ -> next) ++ extraEntries
      val refName = target match {
        case MainRef             => "main"
        case BranchTarget(n, _)  => n
      }
      val headers = Seq(
        s"#parent\t${if (parent >= 0) parent else next - 1}",
        s"#ref\t$refName") ++
        constraints.sortBy(c => (c.table, c.name)).map(c =>
          s"#constraint\t${enc(c.table)}\t${enc(c.name)}\t${c.kind}\t" +
            enc(c.expr)) ++
        renames.sortBy(r => (r.atVersion, r.table, r.from)).map(r =>
          s"#rename\t${r.atVersion}\t${enc(r.table)}\t${enc(r.from)}\t" +
            enc(r.to))
      val body = ((next.toString +: headers) ++ map.toSeq.sortBy(_._1)
        .map { case (n, v) => s"$n\t$v" }).mkString("\n")
      // NO-overwrite completion publish: belt-and-braces — under the
      // claim discipline nobody else can complete `next`
      try FsAtomic.writeAtomic(fs, conf, tmp, catFile(root, next),
        body, overwrite = false)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new CommitContentionException(next, e)
      }
      completedCat = true
      beforeFlip(next)
      target match {
        case MainRef =>
          // the pointer flip is the commit point, FORWARD-ONLY through
          // the CAS seam (in-process races fully closed by the lock;
          // cross-JVM on plain filesystems the rename residual remains —
          // see FsAtomic.putIfMatch). A refused flip means the pointer
          // already passed `next` — and the only way it can do that is
          // through a frontier chain built on OUR complete c=next (the
          // stale-claim guard rejected pointers ≥ next before we
          // completed), so the transaction is already included in the
          // newer catalog's carry-forward: success, and rolling back
          // would delete data that catalog references.
          // SINGLE pointer read here, not currentVersion: that
          // helper's missing-pointer arbitration (20 sleeps, ~1 s)
          // exists for readers who might observe a DIFFERENT writer
          // mid-flip — but in-process flips serialize on putIfMatch's
          // per-path lock (none can be mid-rename while we hold it),
          // and cross-JVM mid-flip is the documented plain-FS
          // residual either way. On a FIRST commit the pointer is
          // legitimately absent (c=next is ours, flip pending), and
          // the r14 probe measured every fresh store paying the full
          // 20-retry spin exactly here.
          FsAtomic.putIfMatch(fs, conf, pointer(root),
            new org.apache.hadoop.fs.Path(root,
              s"_cat_current.tmp.$next"),
            next.toString,
            () => pointerValue(fs, root),
            cur => cur.forall(_.trim.toInt < next))
        case BranchTarget(name, expectedHead) =>
          // branch commit point: equality CAS on the branch ref. A
          // refusal means the head moved (or the branch was dropped)
          // after our read — and unlike main, NOTHING can have built
          // on our c=next (main's frontier skips non-main refs,
          // branch readers resolve the ref file we failed to move),
          // so the completed catalog file rolls BACK fully and the
          // retry re-parents on the new head, metadata-only.
          val ok = FsAtomic.putIfMatch(fs, conf, refFile(root, name),
            new org.apache.hadoop.fs.Path(root,
              s"_cat/.ref=$name.tmp.$next"),
            s"branch $next",
            () => if (fs.exists(refFile(root, name)))
              Some(readSmall(fs, refFile(root, name))) else None,
            cur => cur.exists(c =>
              try parseRef(c) == (("branch", expectedHead))
              catch { case _: Exception => false }))
          if (!ok) {
            fs.delete(catFile(root, next), false)
            completedCat = false
            throw new CommitContentionException(next, null)
          }
      }
      fs.delete(claim, false)
      CatalogTx(Some(next), None)
    } catch {
      case e: Throwable =>
        if (!completedCat) {
          // undo to exactly "staged, unclaimed": renames reversed so
          // a retry stays metadata-only; never delete a v-dir we did
          // not stage
          renamed.foreach { n =>
            dirSchemaMemo.remove(tableDir(root, n, next).toString)
            try FsAtomic.renameNoReplace(fs, conf, tableDir(root, n, next),
              stageDir(root, n, txid))
            catch { case _: Exception => () } // vacuum sweeps leftovers
          }
          fs.delete(tmp, false)
          fs.delete(claim, false)
        } else {
          // after the catalog file completes, NOTHING rolls back — a
          // concurrent frontier walk may already have built on it;
          // the transaction either flips here on a later attempt
          // (there is none — completion is final), rolls forward via
          // the next commit, or ages out to vacuum
          fs.delete(claim, false)
        }
        throw e
    }
  }
}
