package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.kv.{CasPointerStore, GraftFs, PointerStore, RenamePointerStore}

/** The S3-class (no-atomic-rename) pointer protocol, driven over the
  * local filesystem: `GraftFs.createExclusive` is the local emulation
  * of S3's conditional PUT, so these specs exercise the exact object
  * sequence a real S3 deployment would. */
class PointerStoreSpec extends AnyFunSuite with SparkSpec {

  private def fresh(name: String): String = {
    val p = targetPath(s"ptrspec_$name")
    GraftFs.delete(p, recursive = true)
    p
  }

  test("scheme dispatch: rename where rename is atomic, CAS where it is not") {
    assert(PointerStore.forScheme(None) === RenamePointerStore)
    assert(PointerStore.forScheme(Some("file")) === RenamePointerStore)
    assert(PointerStore.forScheme(Some("hdfs")) === RenamePointerStore)
    for (s <- Seq("s3", "s3a", "gs", "abfs"))
      assert(PointerStore.forScheme(Some(s)) === CasPointerStore,
        s"$s has no atomic rename and must use the CAS protocol")
  }

  test("CAS: the max-numbered object wins regardless of publish order") {
    val t = fresh("order")
    assert(CasPointerStore.readLatest(t).isEmpty)
    assert(CasPointerStore.publish(t, 3, 8))
    assert(CasPointerStore.publish(t, 1, 4))
    assert(CasPointerStore.publish(t, 2, 6))
    assert(CasPointerStore.readLatest(t) === Some((3, 8)))
  }

  test("CAS: a duplicate generation publish loses explicitly") {
    val t = fresh("dup")
    assert(CasPointerStore.publish(t, 5, 16))
    // the loser must get `false` (not silent last-writer-wins) and the
    // winner's content must survive
    assert(!CasPointerStore.publish(t, 5, 99))
    assert(CasPointerStore.readLatest(t) === Some((5, 16)))
  }

  test("CAS: partial-upload junk in the pointer dir is ignored") {
    val t = fresh("junk")
    assert(CasPointerStore.publish(t, 7, 4))
    GraftFs.writeString(s"${CasPointerStore.ptrDir(t)}/.ptr-0000000008.txt.tmp",
      "8 4")
    GraftFs.writeString(s"${CasPointerStore.ptrDir(t)}/README", "not a pointer")
    assert(CasPointerStore.readLatest(t) === Some((7, 4)))
  }

  test("CAS: pointers older than gen-1 retire; gen and gen-1 remain") {
    val t = fresh("retire")
    (0 to 5).foreach(g => assert(CasPointerStore.publish(t, g, 4)))
    val left = GraftFs.list(CasPointerStore.ptrDir(t)).map(_.name).sorted
    assert(left === Seq("ptr-0000000004.txt", "ptr-0000000005.txt"))
    assert(CasPointerStore.readLatest(t) === Some((5, 4)))
  }

  test("full table lifecycle over the CAS protocol: put, compact x2, resolve") {
    // -Dgraft.kv.pointer.protocol=cas forces the S3-shaped pointer onto
    // the local table, so every generation flip in this test goes
    // through conditional-put objects instead of rename
    import spark.implicits._
    import graft.write.KVTable
    sys.props("graft.kv.pointer.protocol") = "cas"
    try {
      val t = KVTable(spark, fresh("lifecycle"), wipe = true)
      t.put(Seq((1L, "F", "a", "v1", 1L), (2L, "F", "a", "w1", 1L))
        .toDF("key", "family", "qualifier", "value", "ts"))
      t.compact() // gen 0 published via CAS
      t.put(Seq((1L, "F", "a", "v2", 5L))
        .toDF("key", "family", "qualifier", "value", "ts"))
      t.compact() // gen 1
      val got = t.resolved().select($"key", $"value")
        .as[(Long, String)].collect().toMap
      assert(got === Map(1L -> "v2", 2L -> "w1"))
      assert(CasPointerStore.readLatest(t.path).map(_._1) === Some(1))
      // the rename-protocol pointer file must not exist — nothing in
      // the flow fell back to the mutable-file path
      assert(!GraftFs.exists(s"${t.path}/compacted/_graft_current.txt"))
    } finally sys.props.remove("graft.kv.pointer.protocol")
  }

  test("CAS: concurrent publishers — one winner per generation, readers " +
    "never see torn or regressing state") {
    val t = fresh("race")
    val gens = 40
    val winners = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        // monotonicity is a PER-READER guarantee: this thread's next
        // list starts after its previous one finished, so with
        // strongly-consistent listing its own max never regresses
        // (cross-thread completion order proves nothing — a thread
        // that listed earlier may finish reading later)
        var seen = -1
        while (!stop.get()) {
          CasPointerStore.readLatest(t).foreach { case (g, n) =>
            if (n != g + 100) torn.incrementAndGet() // content must be intact
            if (g < seen) torn.incrementAndGet()
            seen = math.max(seen, g)
          }
        }
      })
    }
    readers.foreach(_.start())
    val writers = (0 until 8).map { w =>
      new Thread(() => {
        val order = new scala.util.Random(w).shuffle((0 until gens).toList)
        order.foreach { g =>
          if (CasPointerStore.publish(t, g, g + 100))
            winners.put(g, w)
        }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    stop.set(true); readers.foreach(_.join())
    assert(torn.get() === 0)
    assert(CasPointerStore.readLatest(t) === Some((gens - 1, gens - 1 + 100)))
    // every generation had exactly one winning publisher (the map holds
    // one entry per gen because only `true` publishes recorded); losers
    // saw `false`, which is the protocol's whole point vs rename
    assert((0 until gens).forall(winners.containsKey))
  }

  test("CAS: a listing whose newest pointer is gone before it is read " +
    "lists again instead of falling back to an older entry") {
    val t = fresh("relist")
    assert(CasPointerStore.publish(t, 3, 103))
    assert(CasPointerStore.publish(t, 5, 105))
    val dir = CasPointerStore.ptrDir(t)
    def live = GraftFs.list(dir).map(e =>
      (e.name.stripPrefix("ptr-").stripSuffix(".txt").toInt, e.path))
    // the first listing was taken while ptr-4 was the newest; a publish
    // retired it before the read, and ptr-5 landed meanwhile
    var listings = 0
    val got = CasPointerStore.latest { () =>
      listings += 1
      if (listings == 1) Seq((3, s"$dir/ptr-0000000003.txt"), (4, s"$dir/ptr-0000000004.txt"))
      else live
    }
    assert(got === Some((5, 105)))
    assert(listings === 2)
  }

  test("CAS conditional-create probe: only an incapable s3 store is rejected") {
    import graft.sources.kv.CasPointerStore.conditionalCreateUnsupported
    // s3 without the Hadoop 3.4.1+ conditional-create path capability =
    // the silent exists-then-PUT race ADVICE flagged. The enabled FLAG
    // is deliberately not a signal: on a capable client it surfaces as
    // the capability, on an older client it is a no-op that must not
    // bypass the check.
    assert(conditionalCreateUnsupported("s3a", hasCapability = false))
    assert(conditionalCreateUnsupported("s3", hasCapability = false))
    assert(!conditionalCreateUnsupported("s3a", hasCapability = true))
    // non-s3 schemes have atomic exclusive create natively
    assert(!conditionalCreateUnsupported("file", hasCapability = false))
    assert(!conditionalCreateUnsupported("hdfs", hasCapability = false))
    assert(!conditionalCreateUnsupported("gs", hasCapability = false))
  }

  test("probe verdict: indeterminate probes defer to the operator") {
    import graft.sources.kv.CasPointerStore.probeDecision
    // clean probe answers: capability rules, flag ignored
    assert(probeDecision("s3a", Some(false), flagEnabled = true,
      operatorTrust = false))
    assert(!probeDecision("s3a", Some(true), flagEnabled = false,
      operatorTrust = false))
    // probe THREW (None): nothing learned — the conf flag is the
    // operator's word and must not fail every publish spuriously
    assert(!probeDecision("s3a", None, flagEnabled = true,
      operatorTrust = false))
    assert(probeDecision("s3a", None, flagEnabled = false,
      operatorTrust = false))
    // explicit operator trust overrides even a clean negative probe
    // (builds that implement conditional create without advertising it)
    assert(!probeDecision("s3a", Some(false), flagEnabled = false,
      operatorTrust = true))
    // non-s3 never rejected
    assert(!probeDecision("gs", None, flagEnabled = false,
      operatorTrust = false))
  }
}
