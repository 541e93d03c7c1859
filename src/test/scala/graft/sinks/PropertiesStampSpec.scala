package graft.sinks

import graft.SparkSpec

/** The properties store is an OCC CHAIN of exclusively-created files
  * (`props/p1, p2, …`), the table's only properties store: every write
  * claims the next index, and the memo stamps on the head index —
  * monotone by construction, so no stamp can EVER recur across the
  * store's history, even when a rewrite revisits an earlier body inside
  * one mtime granule. Two concurrent writers get a decidable
  * createExclusive race instead of a silent lost update (a plain rewrite
  * of one file drops the loser's key — the same check-then-act hole the
  * schedule fuzzer found in commitOnce and the DDL race probe found in
  * ALTER). These probes pin the chain's invariants on value-revisiting
  * write sequences, a foreign reader's memo, and racing writers. */
class PropertiesStampSpec extends SparkSpec {
  import spark.implicits._

  private val ops = VersionedTable
  private def chainDir(dir: String) = s"$dir/manifests/props"
  private def headIdx(dir: String): Int =
    TableIO.local.list(chainDir(dir)).filter(_.startsWith("p"))
      .map(_.drop(1).toInt).max

  test("every write advances the chain head — including a " +
      "value-revisiting body sequence (A, B, back to A)") {
    val dir = tmpDir("props-grow") + "/t"
    ops.commit(Seq((1L, 1.0)).toDF("id", "v"), dir)
    ops.setTableProperty(dir, "k", "aaaa") // body A
    val s1 = headIdx(dir)
    ops.setTableProperty(dir, "k", "bb") // body B
    val s2 = headIdx(dir)
    ops.setTableProperty(dir, "k", "aaaa") // body C == body A
    val s3 = headIdx(dir)
    assert(s1 < s2 && s2 < s3,
      s"the stamp must be monotone across every rewrite: $s1, $s2, $s3")
    assert(ops.tableProperties(dir) == Map("k" -> "aaaa"))
  }

  test("remove-to-empty and re-set keep advancing; removing an absent " +
      "key is a true no-op") {
    val dir = tmpDir("props-empty") + "/t"
    ops.commit(Seq((1L, 1.0)).toDF("id", "v"), dir)
    ops.setTableProperty(dir, "k", "v1")
    val s1 = headIdx(dir)
    ops.removeTableProperty(dir, "k")
    val s2 = headIdx(dir)
    assert(s2 > s1 && ops.tableProperties(dir).isEmpty)
    ops.setTableProperty(dir, "k", "v1") // same body as the s1 entry
    val s3 = headIdx(dir)
    assert(s3 > s2, "re-setting the original body must still advance")
    assert(ops.tableProperties(dir) == Map("k" -> "v1"))
    ops.removeTableProperty(dir, "missing")
    assert(headIdx(dir) == s3, "removing an absent key must not write")
  }

  test("a foreign instance's stamp memo can never serve stale: a fresh " +
      "ops over the same table reads current values after any rewrite " +
      "sequence") {
    val dir = tmpDir("props-foreign") + "/t"
    ops.commit(Seq((1L, 1.0)).toDF("id", "v"), dir)
    val foreign = new VersionedTableOps(TableIO.local)
    ops.setTableProperty(dir, "k", "xxxx")
    assert(foreign.tableProperties(dir) == Map("k" -> "xxxx")) // memoized
    // rapid same-granule rewrites that revisit earlier bodies
    ops.setTableProperty(dir, "k", "yy")
    ops.setTableProperty(dir, "k", "xxxx")
    ops.removeTableProperty(dir, "k")
    ops.setTableProperty(dir, "k", "zzzz")
    // the foreign instance has no in-process invalidation — only the
    // stamp protects it; the monotone head index makes every write a
    // fresh stamp even inside one mtime granule
    assert(foreign.tableProperties(dir) == Map("k" -> "zzzz"),
      "the foreign reader served a stale memoized properties map")
  }

  test("racing single-key writes all survive — the lost-update hole " +
      "the legacy rewrite had") {
    val dir = tmpDir("props-race") + "/t"
    ops.commit(Seq((1L, 1.0)).toDF("id", "v"), dir)
    val threads = (1 to 8).map { i =>
      new Thread(() => ops.setTableProperty(dir, s"k$i", s"v$i"))
    }
    threads.foreach(_.start()); threads.foreach(_.join(10000))
    val got = ops.tableProperties(dir)
    assert(got == (1 to 8).map(i => s"k$i" -> s"v$i").toMap,
      s"every racing SET must survive: $got")
  }
}
