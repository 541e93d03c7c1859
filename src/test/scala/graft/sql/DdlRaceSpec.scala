package graft.sql

import java.util.concurrent.Semaphore

import graft.SparkSpec
import graft.sinks.{CrashingTableIO, MutationCountingIO, TableIO, VersionedTable, VersionedTableOps}

/** Concurrent-DDL races — the metadata sibling of the writer-schedule
  * fuzzer's DATA races. The declaration used to be a plain rewrite
  * (`writeLines schema.json`), which made ALTER check-then-act: two
  * concurrent ALTERs both computed from the same base and the loser's
  * change SILENTLY vanished under the winner's write — the exact shape
  * of the commitOnce bug the schedule fuzzer found, one layer up. The
  * declaration is now a monotone chain of exclusively-created files
  * and ALTER publishes through a compare-and-swap: the loser REFUSES
  * loudly (ConcurrentModificationException) and its retry applies
  * cleanly against the winner's schema. The retired-column ledger had
  * the same read-modify-write hole with a worse failure direction (a
  * lost retirement lets a future ADD reuse a physical name and serve
  * the dropped column's stale bytes); it is now append-only — one
  * exclusively-created file per entry, set-union semantics. */
class DdlRaceSpec extends SparkSpec {

  /** Process-wide gated IO: parks ONCE at the first call matching
    * `trip` while `armed`. */
  private final class GateIO(inner: TableIO, arrived: Semaphore,
      resume: Semaphore)(trip: (String, String) => Boolean)
      extends TableIO {
    @volatile var armed = false
    private val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    private def gate(call: String, path: String): Unit =
      if (armed && trip(call, path) &&
          tripped.compareAndSet(false, true)) {
        arrived.release(); resume.acquire()
      }
    override def mkdirs(dir: String): Unit = {
      gate("mkdirs", dir); inner.mkdirs(dir)
    }
    override def exists(path: String): Boolean = {
      gate("exists", path); inner.exists(path)
    }
    override def list(dir: String): Seq[String] = {
      gate("list", dir); inner.list(dir)
    }
    override def readLines(path: String): Seq[String] = {
      gate("readLines", path); inner.readLines(path)
    }
    override def writeLines(path: String, lines: Seq[String]): Unit = {
      gate("writeLines", path); inner.writeLines(path, lines)
    }
    override def createExclusive(path: String, lines: Seq[String]): Boolean = {
      gate("createExclusive", path); inner.createExclusive(path, lines)
    }
    override def delete(path: String): Unit = {
      gate("delete", path); inner.delete(path)
    }
    override def size(path: String): Long = { gate("size", path); inner.size(path) }
    override def isDir(path: String): Boolean = {
      gate("isDir", path); inner.isDir(path)
    }
    override def mtime(path: String): Long = {
      gate("mtime", path); inner.mtime(path)
    }
  }

  test("two racing ALTERs: the loser refuses loudly, nothing is " +
      "silently dropped, and its retry lands") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = tmpDir("ddlrace") + "/t"
    val prev = VersionedTable.backend
    val atChain = new Semaphore(0); val resume = new Semaphore(0)
    val gio = new GateIO(TableIO.local, atChain, resume)(
      // park the first ALTER at its chain publish — AFTER it read its
      // base declaration, BEFORE its CAS write lands
      (call, path) => call == "createExclusive" &&
        path.matches(".*/manifests/schema/d\\d+"))
    try {
      VersionedTable.setBackend(gio)
      spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, a STRING, b STRING)")
      gio.armed = true
      @volatile var thrown: Option[Throwable] = None
      val alterA = new Thread(() => {
        try spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN a TO a2")
        catch { case t: Throwable => thrown = Some(t) }
      }, "ddl-race-a")
      alterA.start()
      atChain.acquire() // A computed its new schema from base, not yet CAS'd
      // B's whole ALTER lands inside A's window (the gate trips once)
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN b TO b2")
      resume.release()
      alterA.join(30000)
      assert(thrown.exists(t =>
        (t.getMessage + Option(t.getCause).map(_.getMessage).mkString)
          .toLowerCase.contains("concurrent")),
        s"the losing ALTER must refuse loudly, got: $thrown")
      // nothing silently dropped: B's rename is live, A's is NOT applied
      assert(spark.table(s"graft.`$dir`").schema.fieldNames.toSeq ==
        Seq("id", "a", "b2"))
      // the documented recovery: re-run against the current schema
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN a TO a2")
      assert(spark.table(s"graft.`$dir`").schema.fieldNames.toSeq ==
        Seq("id", "a2", "b2"))
    } finally VersionedTable.setBackend(prev)
  }

  test("casDeclareSchema semantics: stale expectation refuses; a " +
      "redeclaration wins; the chain stays bounded") {
    val ops = new VersionedTableOps(TableIO.local)
    val dir = tmpDir("ddlcas") + "/t"
    assert(ops.declaredSchema(dir).isEmpty)
    ops.declareSchema(dir, "{\"v\":1}")
    assert(ops.declaredSchema(dir).contains("{\"v\":1}"))
    // CAS from the current declaration lands the next chain entry
    ops.casDeclareSchema(dir, Some("{\"v\":1}"), "{\"v\":2}")
    assert(ops.declaredSchema(dir).contains("{\"v\":2}"))
    // a CAS whose base moved refuses instead of overwriting
    val e = intercept[java.util.ConcurrentModificationException] {
      ops.casDeclareSchema(dir, Some("{\"v\":1}"), "{\"v\":3}")
    }
    assert(e.getMessage.contains("re-run"))
    assert(ops.declaredSchema(dir).contains("{\"v\":2}"))
    // unconditional redeclaration (CREATE/REPLACE intent) still wins
    ops.declareSchema(dir, "{\"v\":4}")
    assert(ops.declaredSchema(dir).contains("{\"v\":4}"))
    // the chain stays bounded: many redeclarations prune the tail
    (5 to 30).foreach(i => ops.declareSchema(dir, s"""{"v":$i}"""))
    assert(ops.declaredSchema(dir).contains("{\"v\":30}"))
    val chain = TableIO.local.list(s"$dir/manifests/schema")
    assert(chain.size <= 10, s"chain must stay bounded, got ${chain.size}")
  }

  // ---- crash sweeps over the chain stores (FaultInjectionSpec's
  // kill-point discipline, applied to the DDL protocol: rows don't
  // change under ALTER, the DECLARATION does, so the torn-state
  // invariant is declaration = pre XOR post — never a half state) ----

  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    val it = java.nio.file.Files.walk(s)
    try it.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally it.close()
  }

  private def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p)
      try it.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally it.close()
    }
  }

  test("crash sweep: a killed ALTER (DROP COLUMN — retire ledger + CAS " +
      "chain) leaves the declaration pre or post, never torn; " +
      "retry-iff-pre converges") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val work = tmpDir("ddlcrash")
    val dir = s"$work/t"
    val prev = VersionedTable.backend
    try {
      spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, a STRING, b STRING)")
      spark.sql(s"INSERT INTO graft.`$dir` VALUES (1, 'x', 'y')")
      val preDecl = VersionedTable.declaredSchema(dir).get
      val backup = tmpDir("ddlcrash-bk")
      copyTree(work, backup)
      // clean run captures the post declaration and the kill domain
      val counter = new MutationCountingIO(TableIO.local)
      VersionedTable.setBackend(counter)
      spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN b")
      VersionedTable.setBackend(TableIO.local)
      val postDecl = VersionedTable.declaredSchema(dir).get
      val total = counter.count
      assert(total > 0, "ALTER performed no metadata mutations")
      info(s"sweeping $total ALTER kill points")
      for (n <- 0 until total) {
        val at = s"[ALTER killed before mutation $n/$total]"
        deleteTree(work); copyTree(backup, work)
        VersionedTable.setBackend(new CrashingTableIO(TableIO.local, n))
        try spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN b")
        catch { case _: Throwable => () }
        VersionedTable.setBackend(TableIO.local)
        val now = VersionedTable.declaredSchema(dir).get
        assert(now == preDecl || now == postDecl,
          s"$at: declaration is neither pre nor post:\n  $now")
        // a crashed DROP may leave a retirement for a column that never
        // dropped — conservative by design (ids/physicals are never
        // recycled anyway); what must NOT happen is a torn declaration
        if (now == preDecl)
          spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN b")
        assert(VersionedTable.declaredSchema(dir).get == postDecl,
          s"$at: retry did not land the post declaration")
        assert(spark.table(s"graft.`$dir`").columns.toSeq == Seq("id", "a"),
          s"$at: the recovered table does not serve the post schema")
      }
    } finally VersionedTable.setBackend(prev)
  }

  test("crash sweep: a killed property write leaves the map pre or " +
      "post; retry converges") {
    val work = tmpDir("propcrash")
    val dir = s"$work/t"
    val fixture = new VersionedTableOps(TableIO.local)
    fixture.setTableProperty(dir, "k1", "v1")
    val backup = tmpDir("propcrash-bk")
    copyTree(work, backup)
    val counter = new MutationCountingIO(TableIO.local)
    new VersionedTableOps(counter).setTableProperty(dir, "k2", "v2")
    val post = fixture.tableProperties(dir)
    assert(post == Map("k1" -> "v1", "k2" -> "v2"))
    val total = counter.count
    assert(total > 0)
    info(s"sweeping $total property-write kill points")
    for (n <- 0 until total) {
      val at = s"[SET killed before mutation $n/$total]"
      deleteTree(work); copyTree(backup, work)
      val o = new VersionedTableOps(new CrashingTableIO(TableIO.local, n))
      try o.setTableProperty(dir, "k2", "v2")
      catch { case _: Throwable => () }
      val now = fixture.tableProperties(dir)
      assert(now == Map("k1" -> "v1") || now == post,
        s"$at: properties are neither pre nor post: $now")
      fixture.setTableProperty(dir, "k2", "v2")
      assert(fixture.tableProperties(dir) == post,
        s"$at: retry did not converge")
    }
  }

  test("racing retirements union instead of last-writer-wins") {
    val ops = new VersionedTableOps(TableIO.local)
    val dir = tmpDir("ddlretire") + "/t"
    val threads = (2 to 9).map { i =>
      new Thread(() => ops.retireColumn(dir, i.toLong, s"c$i"))
    }
    threads.foreach(_.start()); threads.foreach(_.join(10000))
    val got = ops.retiredColumns(dir)
    assert(got == (2 to 9).map(i => i.toLong -> s"c$i"),
      s"every racing retirement must survive: $got")
  }
}
