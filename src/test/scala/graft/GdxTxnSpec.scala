package graft

import org.apache.spark.sql.functions._
import graft.sources.GdxSource

/** Multi-table transactions (sources/GdxSource.prepareTransaction /
  * transact): each participating table's next version is claimed by a
  * redirect manifest pointing at ONE decision file, whose single
  * create-exclusive PUT commits or aborts every claim atomically.
  * Undecided claims are invisible to readers and loud on explicit
  * pins; a blocked writer aborts a stale claim (first decision wins);
  * vacuum reaps an aborted transaction's staged files. */
class GdxTxnSpec extends SparkSuite with RefusalHelper {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"
  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxtxn_$tag").toString + "/t"
  private def conf = GdxSource.driverConf()
  private def read(dir: String) =
    spark.read.format(fmt).option("path", dir).load()
  private def seed(dir: String, n: Int): Unit =
    (0L until n.toLong).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()

  test("commit flips BOTH tables at once; before the decision neither " +
      "shows anything and the claims are loud on explicit pins") {
    val a = freshDir("a"); val b = freshDir("b")
    seed(a, 10); seed(b, 20)
    val txn = GdxSource.prepareTransaction(spark, Seq(
      GdxSource.GdxTxnWrite(a,
        Seq((100L, "txa")).toDF("k", "v")),
      GdxSource.GdxTxnWrite(b,
        Seq((200L, "txb")).toDF("k", "v"))))
    // claims exist but are INVISIBLE: both tables still read their base
    assert(GdxSource.listVersions(a, conf) === Seq(1, 2))
    assert(read(a).count() === 10L && read(b).count() === 20L)
    // an explicit pin on the undecided claim is loud
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", a).option("version", "2")
        .load().count()
    }
    assert(e.getMessage.contains("UNDECIDED"), e.getMessage)
    // ONE decision PUT commits both
    val committed = txn.commit()
    assert(committed.map(_._2) === Seq(2, 2))
    assert(read(a).count() === 11L && read(b).count() === 21L)
    assert(read(a).filter(col("v") === "txa").count() === 1L)
    assert(read(b).filter(col("v") === "txb").count() === 1L)
    // the pre-txn snapshots still time-travel; the committed claim
    // pins exactly
    assert(spark.read.format(fmt).option("path", a)
      .option("version", "1").load().count() === 10L)
    assert(spark.read.format(fmt).option("path", a)
      .option("version", "2").load().count() === 11L)
    // commit is idempotent; a late abort loses
    assert(txn.commit().map(_._2) === Seq(2, 2))
    assert(!txn.abort())
  }

  test("abort hides the writes forever; later appends chain past the " +
      "aborted claim and vacuum reaps its staged files") {
    val a = freshDir("aa"); val b = freshDir("ab")
    seed(a, 5); seed(b, 5)
    val txn = GdxSource.prepareTransaction(spark, Seq(
      GdxSource.GdxTxnWrite(a, Seq((50L, "x")).toDF("k", "v")),
      GdxSource.GdxTxnWrite(b, Seq((60L, "y")).toDF("k", "v"))))
    assert(txn.abort())
    assert(read(a).count() === 5L && read(b).count() === 5L)
    // a normal append chains past the aborted v2 (reads as empty delta)
    Seq((70L, "later")).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", a).mode("append").save()
    assert(GdxSource.listVersions(a, conf) === Seq(1, 2, 3))
    assert(read(a).count() === 6L)
    // the aborted version explicitly pinned = its predecessor snapshot
    assert(spark.read.format(fmt).option("path", a)
      .option("version", "2").load().count() === 5L)
    // vacuum reaps the aborted stage's unreferenced data files
    val strays = new java.io.File(a).listFiles()
      .filter(_.getName.startsWith("upd-"))
    assert(strays.nonEmpty, "prepare must have staged data files")
    GdxSource.vacuum(a, conf, keepLast = 3)
    assert(new java.io.File(a).listFiles()
      .forall(f => !f.getName.startsWith("upd-")))
    assert(read(a).count() === 6L)
  }

  test("a blocked writer STEALS the decision: the transaction aborts, " +
      "its commit throws, and the writer's own commit lands") {
    val a = freshDir("sa"); val b = freshDir("sb")
    seed(a, 5); seed(b, 5)
    val txn = GdxSource.prepareTransaction(spark, Seq(
      GdxSource.GdxTxnWrite(a, Seq((50L, "tx")).toDF("k", "v")),
      GdxSource.GdxTxnWrite(b, Seq((60L, "tx")).toDF("k", "v"))))
    // a concurrent writer needs a's next slot: it aborts the stale
    // claim and chains past it
    Seq((70L, "winner")).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", a).mode("append").save()
    assert(read(a).filter(col("v") === "winner").count() === 1L)
    intercept[graft.sources.GdxConcurrentModificationException] {
      txn.commit()
    }
    // ATOMIC abort: table b (never touched by the writer) must not
    // show the transaction's row either
    assert(read(a).filter(col("v") === "tx").count() === 0L)
    assert(read(b).count() === 5L)
  }

  test("constraints are enforced at stage time; schema mismatches and " +
      "duplicate tables refuse") {
    val a = freshDir("ca")
    seed(a, 5)
    GdxSource.addConstraint(spark, a, "pos", "k >= 0")
    val e1 = intercept[graft.sources.GdxConstraintViolationException] {
      GdxSource.prepareTransaction(spark, Seq(
        GdxSource.GdxTxnWrite(a, Seq((-1L, "bad")).toDF("k", "v"))))
    }
    assert(e1.getMessage.contains("pos"))
    assert(GdxSource.listVersions(a, conf).max === 2) // constraint commit
    val e2 = intercept[Exception] {
      GdxSource.prepareTransaction(spark, Seq(
        GdxSource.GdxTxnWrite(a, Seq(1L).toDF("k"))))
    }
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    intercept[Exception] {
      GdxSource.prepareTransaction(spark, Seq(
        GdxSource.GdxTxnWrite(a, Seq((1L, "x")).toDF("k", "v")),
        GdxSource.GdxTxnWrite(a, Seq((2L, "y")).toDF("k", "v"))))
    }
  }

  test("a staging failure on a LATER table aborts the earlier tables' " +
      "claims: nothing is wedged, maintenance keeps working") {
    val a = freshDir("pa"); val b = freshDir("pb")
    seed(a, 5); seed(b, 5)
    GdxSource.addConstraint(spark, b, "pos", "k >= 0") // b at v2
    intercept[graft.sources.GdxConstraintViolationException] {
      GdxSource.prepareTransaction(spark, Seq(
        GdxSource.GdxTxnWrite(a, Seq((50L, "ok")).toDF("k", "v")),
        GdxSource.GdxTxnWrite(b, Seq((-1L, "bad")).toDF("k", "v"))))
    }
    // a's claim was published before b's staging failed — the abort
    // decided it, so reads, maintenance, and later writes all work
    assert(read(a).count() === 5L)
    GdxSource.vacuum(a, conf, keepLast = 3)
    Seq((60L, "later")).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", a).mode("append").save()
    assert(read(a).count() === 6L)
  }

  test("commit materializes every claim: no manifest keeps a #txn " +
      "redirect, so destroying the coordinator's decision file can " +
      "never un-commit another table") {
    val a = freshDir("ma"); val b = freshDir("mb")
    seed(a, 5); seed(b, 5)
    GdxSource.transact(spark, Seq(
      GdxSource.GdxTxnWrite(a, Seq((50L, "x")).toDF("k", "v")),
      GdxSource.GdxTxnWrite(b, Seq((60L, "y")).toDF("k", "v"))))
    def redirects(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.matches("_manifest-\\d+"))
        .filter(f => java.nio.file.Files.readAllLines(f.toPath)
          .toArray.exists(_.toString.startsWith("#txn")))
        .map(_.getName)
    assert(redirects(a).isEmpty && redirects(b).isEmpty,
      s"${redirects(a)} / ${redirects(b)}")
    // stage files were reclaimed with the materialization, and the
    // decision file RETIRED with them (nothing references it once
    // every redirect is self-contained) — no per-transaction file
    // accumulates in the coordinator's directory
    Seq(a, b).foreach { d =>
      assert(new java.io.File(d).listFiles().forall(f =>
        !f.getName.startsWith("_txnstage-") &&
          !f.getName.startsWith("_txndecision-")), d)
    }
    assert(read(a).count() === 6L && read(b).count() === 6L)
  }

  test("vacuum on a table with a crashed (undecided) claim decides it " +
      "instead of wedging") {
    val a = freshDir("va")
    seed(a, 5)
    val txn = GdxSource.prepareTransaction(spark, Seq(
      GdxSource.GdxTxnWrite(a, Seq((50L, "x")).toDF("k", "v"))))
    // simulate the crashed preparer: nobody ever decides
    assert(GdxSource.vacuum(a, conf, keepLast = 3) >= 0) // must not throw
    assert(read(a).count() === 5L)
    // the vacuum's decision stands: the late commit is told it lost
    intercept[graft.sources.GdxConcurrentModificationException] {
      txn.commit()
    }
  }

  test("SQL front door: BEGIN TRANSACTION stages INSERTs invisibly, " +
      "COMMIT flips every table at once, ROLLBACK surfaces nothing, " +
      "and outside a transaction INSERT behaves natively") {
    val wh = graft.Scratch.tablePath("gdxtxn_sql_")
    val cat = "gdx_txnsql"
    val s = graft.Sessions.pinned(
      org.apache.spark.sql.graft.ColumnBridge
        .sessionWithExtensions(spark, new GraftExtensions()),
      s"spark.sql.catalog.$cat" -> "graft.sources.GdxCatalog",
      s"spark.sql.catalog.$cat.warehouse" -> wh)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.facts (k BIGINT, v STRING)")
    s.sql(s"CREATE TABLE $cat.lab.audit (k BIGINT, v STRING)")
    // outside any transaction, INSERT is the native eager statement
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (1, 'base')")
    assert(s.table(s"$cat.lab.facts").count() === 1L)
    // staged block: nothing surfaces on EITHER table until COMMIT
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (2, 'f2'), (3, 'f3')")
    s.sql(s"INSERT INTO $cat.lab.audit SELECT k + 100, v " +
      s"FROM $cat.lab.facts VERSION AS OF 2 WHERE k = 1")
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (4, 'f4')") // same table
    assert(s.table(s"$cat.lab.facts").count() === 1L,
      "staged rows leaked before COMMIT")
    assert(s.table(s"$cat.lab.audit").count() === 0L)
    val committed = s.sql("COMMIT").collect()
    assert(committed.length === 2) // one row per table
    assert(s.table(s"$cat.lab.facts").count() === 4L)
    assert(s.table(s"$cat.lab.audit").count() === 1L)
    assert(s.table(s"$cat.lab.audit").head.getLong(0) === 101L)
    // ROLLBACK: the staged write never surfaces anywhere
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (-1, 'never')")
    s.sql("ROLLBACK")
    assert(s.table(s"$cat.lab.facts").filter("k = -1").count() === 0L)
    // empty transaction commits as a no-op
    s.sql("START TRANSACTION")
    assert(s.sql("COMMIT").collect().isEmpty)
    // loud refusals: double BEGIN, and statements that commit their
    // own snapshot (general MERGE, TRUNCATE, INSERT OVERWRITE, DDL) —
    // they cannot honor the transaction's atomicity
    s.sql("BEGIN TRANSACTION")
    intercept[Exception](s.sql("BEGIN TRANSACTION"))
    intercept[Exception](s.sql(s"TRUNCATE TABLE $cat.lab.facts"))
    intercept[Exception](
      s.sql(s"INSERT OVERWRITE $cat.lab.facts VALUES (9, 'ow')"))
    intercept[Exception](
      s.sql(s"ALTER TABLE $cat.lab.facts ADD COLUMN (w DOUBLE)"))
    intercept[Exception](s.sql(s"DROP TABLE $cat.lab.audit"))
    // DELETE, UPDATE, and column-list INSERT STAGE (invisible until
    // COMMIT)
    s.sql(s"DELETE FROM $cat.lab.facts WHERE k = 1")
    s.sql(s"UPDATE $cat.lab.facts SET v = 'never' WHERE k >= 0")
    s.sql(s"INSERT INTO $cat.lab.facts (k, v) VALUES (9, 'cl')")
    assert(s.table(s"$cat.lab.facts").filter("v = 'base'").count()
      === 1L, "staged DML must not be visible before COMMIT")
    assert(s.table(s"$cat.lab.facts").filter("k = 9").count() === 0L)
    s.sql("ROLLBACK")
    assert(s.table(s"$cat.lab.facts").filter("v = 'base'").count()
      === 1L, "rolled-back staged DML must never execute")
    assert(s.table(s"$cat.lab.facts").filter("k = 9").count() === 0L)
    // after ROLLBACK the same DML runs normally
    s.sql(s"UPDATE $cat.lab.facts SET v = 'base2' WHERE k = 1")
    assert(s.table(s"$cat.lab.facts").filter("v = 'base2'").count()
      === 1L)
    intercept[Exception](s.sql("COMMIT"))
    intercept[Exception](s.sql("ROLLBACK"))
  }

  test("staged UPDATE: simultaneous assignment over the basis, stage " +
      "order respected, invisible before COMMIT") {
    val cat = "gdx_txnu1"
    val (s, _) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, a STRING, b STRING)")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (1, 'x', 'y'), (2, 'p', 'q')")
    s.sql("BEGIN TRANSACTION")
    // simultaneous assignment: SET a = b, b = a SWAPS
    s.sql(s"UPDATE $cat.lab.t SET a = b, b = a WHERE k = 1")
    // stage order: a later UPDATE sees the swap's result
    s.sql(s"UPDATE $cat.lab.t SET a = a || '!' WHERE k = 1")
    // and an INSERT staged before an UPDATE is updated by it
    s.sql(s"INSERT INTO $cat.lab.t VALUES (3, 'new', 'n')")
    s.sql(s"UPDATE $cat.lab.t SET b = 'seen' WHERE k = 3")
    assert(s.table(s"$cat.lab.t").filter("a = 'y!'").count() === 0L,
      "staged update leaked before COMMIT")
    s.sql("COMMIT")
    val rows = s.table(s"$cat.lab.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows === Seq((1L, "y!", "x"), (2L, "p", "q"),
      (3L, "new", "seen")))
  }

  test("staged UPDATE validates SET targets at stage time: a typo " +
      "column fails the statement, stages nothing, and COMMIT's rows " +
      "are labeled with the CATALOG table name for DML-first tables") {
    val cat = "gdx_txnu2"
    val (s, _) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, a STRING)")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (1, 'x'), (2, 'y')")
    s.sql("BEGIN TRANSACTION")
    val e = intercept[Exception] {
      s.sql(s"UPDATE $cat.lab.t SET typo_col = 'z' WHERE k = 1")
    }
    assert(e.getMessage.contains("typo_col"), e.getMessage)
    // nothing staged: the table's FIRST staged statement is now a
    // valid DML — COMMIT must label its row with the table name, not
    // the filesystem path (the DML-first labeling fix)
    s.sql(s"UPDATE $cat.lab.t SET a = 'z' WHERE k = 1")
    val commits = s.sql("COMMIT").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(commits.map(_._1) === Seq(s"$cat.lab.t"),
      s"COMMIT rows must carry the catalog name, got $commits")
    assert(s.table(s"$cat.lab.t").filter("a = 'z'").count() === 1L)
  }

  test("SAVEPOINT / ROLLBACK TO discards exactly the staged suffix; " +
      "RELEASE forgets it; the general WHEN-matrix MERGE stages and " +
      "commits atomically with the rest") {
    val cat = "gdx_txnsp"
    val (s, _) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (10, 'keep')")
    s.sql("SAVEPOINT sp1")
    // general matrix: conditional DELETE + UPDATE + INSERT
    s.sql(s"""MERGE INTO $cat.lab.t t
      USING (SELECT * FROM VALUES (2L, 'B'), (3L, 'C'), (4L, 'D')
             AS src(k, v)) s
      ON t.k = s.k
      WHEN MATCHED AND t.k = 3 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = upper(s.v)
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 'n_' || s.v)""")
    s.sql("SAVEPOINT sp2")
    s.sql(s"UPDATE $cat.lab.t SET v = 'POISON' WHERE k >= 0")
    // the poison goes; sp1's suffix (the merge) survives
    s.sql("ROLLBACK TO SAVEPOINT sp2")
    // sp2 survives a rollback to itself; RELEASE then forgets it
    s.sql("RELEASE SAVEPOINT sp2")
    intercept[Exception](s.sql("ROLLBACK TO SAVEPOINT sp2"))
    s.sql("COMMIT")
    val rows = s.table(s"$cat.lab.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "B"), (4L, "n_D"),
      (10L, "keep")))

    // a rollback PAST the merge discards it but keeps the prefix
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (20, 'pre')")
    s.sql("SAVEPOINT sp3")
    s.sql(s"DELETE FROM $cat.lab.t WHERE k = 1")
    s.sql("ROLLBACK TO sp3")
    s.sql("COMMIT")
    assert(s.table(s"$cat.lab.t").filter("k = 1").count() === 1L,
      "the rolled-back DELETE must not commit")
    assert(s.table(s"$cat.lab.t").filter("k = 20").count() === 1L,
      "the pre-savepoint INSERT must commit")
  }

  /** A session wired to a fresh GDX catalog; returns (session,
    * warehouse dir) — table `cat.lab.t` lives at `<wh>/lab/t`. */
  private def txnSession(cat: String) = {
    val wh = graft.Scratch.tablePath(s"gdxtxn_${cat}_")
    (graft.Sessions.pinned(
      org.apache.spark.sql.graft.ColumnBridge
        .sessionWithExtensions(spark, new GraftExtensions()),
      s"spark.sql.catalog.$cat" -> "graft.sources.GdxCatalog",
      s"spark.sql.catalog.$cat.warehouse" -> wh), wh)
  }

  test("staged MERGE + INSERT commit as one decision: the nightly " +
      "fact-append + dim-merge load is both-or-neither") {
    val cat = "gdx_txnm1"
    val (s, _) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.dim (k BIGINT, v STRING)")
    s.sql(s"CREATE TABLE $cat.lab.facts (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.dim VALUES (1, 'old1'), (2, 'old2')")
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (10, 'f10'), (11, 'f11')")
    // LWW MERGE: update k=2, insert k=3 — staged, invisible
    s.sql(s"""MERGE INTO $cat.lab.dim t
      USING (SELECT * FROM VALUES (2, 'new2'), (3, 'new3') AS u(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(s.table(s"$cat.lab.dim").filter("v = 'new2'").count() === 0L,
      "staged merge leaked before COMMIT")
    assert(s.table(s"$cat.lab.facts").count() === 0L)
    val out = s.sql("COMMIT").collect()
    assert(out.length === 2)
    val dim = s.table(s"$cat.lab.dim").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dim === Seq((1L, "old1"), (2L, "new2"), (3L, "new3")))
    assert(s.table(s"$cat.lab.facts").count() === 2L)
  }

  test("a staged mutation conflict aborts the WHOLE transaction " +
      "loudly, leaves it open for ROLLBACK, and erases nobody's rows") {
    val cat = "gdx_txnc1"
    val (s, wh) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.dim (k BIGINT, v STRING)")
    s.sql(s"CREATE TABLE $cat.lab.facts (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.dim VALUES (1, 'a'), (2, 'b')")
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (10, 'f')")
    s.sql(s"DELETE FROM $cat.lab.dim WHERE k = 1")
    // a concurrent writer (the OUTER session — no open transaction
    // there) moves the mutated table past the basis
    val dimDir = s"$wh/lab/dim"
    Seq((99L, "concurrent")).toDF("k", "v")
      .write.format(fmt).option("path", dimDir).mode("append").save()
    val e = intercept[Exception](s.sql("COMMIT"))
    assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[
          graft.sources.GdxConcurrentModificationException]),
      e.getMessage)
    // NEITHER table shows the transaction; the concurrent row stands
    assert(s.table(s"$cat.lab.facts").count() === 0L)
    assert(s.table(s"$cat.lab.dim").count() === 3L)
    assert(s.table(s"$cat.lab.dim").filter("v = 'concurrent'")
      .count() === 1L)
    // the failed COMMIT left the transaction open — ROLLBACK succeeds
    s.sql("ROLLBACK")
    intercept[Exception](s.sql("ROLLBACK"))
    // and everything works normally after
    s.sql(s"INSERT INTO $cat.lab.facts VALUES (20, 'after')")
    assert(s.table(s"$cat.lab.facts").count() === 1L)
  }

  test("a staged mutation whose table moved is refused before it writes: " +
      "no deletion vector or image file is left behind") {
    val cat = "gdx_txnc2"
    val (s, wh) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.dim (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.dim VALUES (1, 'a'), (2, 'b')")
    val dimDir = s"$wh/lab/dim"
    val dir = new org.apache.hadoop.fs.Path(dimDir)
    val fs = dir.getFileSystem(conf)
    def written = fs.listStatus(dir).map(_.getPath.getName).filter(n =>
      n.startsWith("dv-") || n.startsWith("upd-")).toSet
    s.sql("BEGIN TRANSACTION")
    s.sql(s"DELETE FROM $cat.lab.dim WHERE k >= 0")
    Seq((99L, "concurrent")).toDF("k", "v")
      .write.format(fmt).option("path", dimDir).mode("append").save()
    val before = written
    val e = intercept[Exception](s.sql("COMMIT"))
    assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[
          graft.sources.GdxConcurrentModificationException]),
      e.getMessage)
    assert(written === before, "the refused DELETE wrote files")
    assert(s.table(s"$cat.lab.dim").count() === 3L)
    s.sql("ROLLBACK")
  }

  test("staged sources are PINNED at stage time: mutating a source " +
      "between stage and COMMIT does not change what commits") {
    val cat = "gdx_txnp1"
    val (s, wh) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.src (k BIGINT, v STRING)")
    s.sql(s"CREATE TABLE $cat.lab.dst (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.src VALUES (1, 'one'), (2, 'two')")
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.dst SELECT k, v FROM $cat.lab.src")
    // mutate the source AFTER staging, BEFORE commit (another session:
    // the staging session refuses non-staged writes mid-transaction —
    // exactly the guard under test elsewhere)
    val srcDir = s"$wh/lab/src"
    Seq((3L, "three")).toDF("k", "v")
      .write.format(fmt).option("path", srcDir).mode("append").save()
    s.sql("COMMIT")
    // the committed rows reflect the STAGE-TIME snapshot of src
    assert(s.table(s"$cat.lab.dst").count() === 2L,
      "a source mutated mid-transaction changed what committed")
    assert(s.table(s"$cat.lab.src").count() === 3L)
  }

  test("transactional INSERT with an explicit column list fills " +
      "omitted columns with their declared DEFAULTs") {
    val cat = "gdx_txnd1"
    val (s, _) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (1, 'a')")
    s.sql(s"ALTER TABLE $cat.lab.t ADD COLUMN (w BIGINT DEFAULT 7)")
    s.sql("BEGIN TRANSACTION")
    // reversed order + omitted DEFAULT column
    s.sql(s"INSERT INTO $cat.lab.t (v, k) VALUES ('b', 2)")
    s.sql("COMMIT")
    val rows = s.table(s"$cat.lab.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, "a", 7L), (2L, "b", 7L)))
    // unknown column in the list is loud
    s.sql("BEGIN TRANSACTION")
    intercept[Exception](
      s.sql(s"INSERT INTO $cat.lab.t (k, nope) VALUES (3, 'x')"))
    s.sql("ROLLBACK")
  }

  test("staged ops apply in stage order over the transaction-local " +
      "view: a DELETE sees the INSERT staged before it") {
    val cat = "gdx_txno1"
    val (s, _) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (1, 'keep'), (2, 'drop')")
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (3, 'drop'), (4, 'keep')")
    s.sql(s"DELETE FROM $cat.lab.t WHERE v = 'drop'")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (5, 'drop')") // after: kept
    s.sql("COMMIT")
    assert(s.table(s"$cat.lab.t").orderBy("k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 4L, 5L))
  }

  test("overwrite and append stage together; transact is the one-call " +
      "form") {
    val a = freshDir("oa"); val b = freshDir("ob")
    seed(a, 10); seed(b, 10)
    val out = GdxSource.transact(spark, Seq(
      GdxSource.GdxTxnWrite(a,
        Seq((1L, "fresh")).toDF("k", "v"), overwrite = true),
      GdxSource.GdxTxnWrite(b, Seq((99L, "more")).toDF("k", "v"))))
    assert(out.map(_._2) === Seq(2, 2))
    assert(read(a).count() === 1L) // truncate semantics
    assert(read(b).count() === 11L)
    assert(spark.read.format(fmt).option("path", a)
      .option("version", "1").load().count() === 10L)
  }

  /** A two-table transaction whose first staged statement, `bad` on
    * `cat.lab.t` (keys 1, 2), must be refused at COMMIT after its
    * writes, an INSERT into `cat.lab.u` staged after it: neither table
    * gets a new version or changed rows, the orphans vacuum away, and
    * ROLLBACK then closes the transaction. `prep` runs on t's directory
    * before the transaction begins. Returns the refusal. */
  private def stagedRefusal(cat: String, prep: String => Unit = _ => ())(
      bad: String => String): Throwable = {
    val (s, wh) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING)")
    s.sql(s"CREATE TABLE $cat.lab.u (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (1, 'a'), (2, 'b')")
    s.sql(s"INSERT INTO $cat.lab.u VALUES (1, 'x')")
    prep(s"$wh/lab/t")
    def rows = Seq("t", "u").map(n =>
      s.table(s"$cat.lab.$n").orderBy("k").collect().toSeq)
    s.sql("BEGIN TRANSACTION")
    s.sql(bad(s"$cat.lab.t"))
    s.sql(s"INSERT INTO $cat.lab.u VALUES (2, 'y')")
    val e = refusedAfterWrites(Seq(s"$wh/lab/t", s"$wh/lab/u"), rows)(
      s.sql("COMMIT"))
    s.sql("ROLLBACK")
    assert(!graft.plans.GdxSqlTxn.isOpen(s))
    e
  }

  test("a staged UPDATE SET k = NULL refuses at COMMIT as the plain " +
      "UPDATE does, naming the key column, and commits nothing") {
    val e = stagedRefusal("gdx_txnr1")(t =>
      s"UPDATE $t SET k = NULL WHERE k = 1")
    assert(raised[IllegalArgumentException](e,
      "gdx update: 1 updated row(s) have a NULL key (k)"), e.getMessage)
  }

  test("a staged UPDATE violating a CHECK refuses at COMMIT with the " +
      "plain UPDATE's exception, counted inside its write") {
    val e = stagedRefusal("gdx_txnr2",
      dir => GdxSource.addConstraint(spark, dir, "pos", "k >= 0"))(t =>
      s"UPDATE $t SET k = -5 WHERE k = 1")
    assert(raised[graft.sources.GdxConstraintViolationException](e,
      "gdx update: 1 updated row(s) would violate CHECK constraint pos"),
      e.getMessage)
  }

  test("a staged ambiguous MERGE refuses at COMMIT with the plain " +
      "MERGE's cardinality exception") {
    val e = stagedRefusal("gdx_txnr3")(t =>
      s"""MERGE INTO $t t
        USING (SELECT * FROM VALUES (1L, 'p'), (1L, 'q') AS src(k, v)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(raised[graft.sources.GdxMergeCardinalityException](e),
      e.getMessage)
  }

  /** A catalog table `cat.lab.t` of keys 0, 2, …, 198 in two
    * key-disjoint files (0..98 and 100..198); returns (session, dir). */
  private def twoFileTable(cat: String) = {
    val (s, wh) = txnSession(cat)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING)")
    val dir = s"$wh/lab/t"
    spark.range(0, 200, 2).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(2, col("k"))
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(GdxSource.committedEntries(dir, conf).size === 2)
    (s, dir)
  }

  test("a staged 1-row DELETE commits one deletion vector: every basis " +
      "file is kept by reference, none rewritten") {
    val cat = "gdx_txndv"
    val (s, dir) = twoFileTable(cat)
    val before = GdxSource.committedEntries(dir, conf)
    s.sql("BEGIN TRANSACTION")
    s.sql(s"DELETE FROM $cat.lab.t WHERE k = 150")
    s.sql("COMMIT")
    val after = GdxSource.committedEntries(dir, conf)
    assert(after.map(_.name) === before.map(_.name))
    assert(after.count(_.dv.isDefined) === 1)
    assert(s.table(s"$cat.lab.t").count() === 99L)
    assert(s.table(s"$cat.lab.t").filter("k = 150").count() === 0L)
  }

  test("a staged MERGE prunes like the plain one: the file outside the " +
      "source's key range keeps its entry, and COMMIT runs at most 4 " +
      "Spark jobs") {
    val cat = "gdx_txnmp"
    val (s, dir) = twoFileTable(cat)
    val high = GdxSource.committedEntries(dir, conf)
      .find(_.stats.exists(_.minK >= 100)).get
    s.sql("BEGIN TRANSACTION")
    s.sql(s"""MERGE INTO $cat.lab.t t
      USING (SELECT * FROM VALUES (10L, 'u10'), (11L, 'n11') AS src(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // the one-pass source-key window, the broadcast of the candidate
    // file, the image write and the DV write — as the plain MERGE
    val (_, jobs) = jobsDuring(s.sql("COMMIT").collect())
    assert(jobs.size <= 4, jobs.mkString("\n"))
    val after = GdxSource.committedEntries(dir, conf)
    assert(after.find(_.name == high.name).map(_.manifestLine) ===
      Some(high.manifestLine))
    assert(s.table(s"$cat.lab.t").filter("k IN (10, 11)").orderBy("k")
      .collect().map(_.getString(1)).toSeq === Seq("u10", "n11"))
    assert(s.table(s"$cat.lab.t").count() === 101L)
  }
}
