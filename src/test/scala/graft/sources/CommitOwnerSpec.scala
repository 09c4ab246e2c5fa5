package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.TxStore.RichPath

/** The object-store commit seam: put-if-absent must yield exactly one
  * winner even when the underlying store offers NO atomic primitive.
  * Pinned here: (1) the control — a naive check-then-write owner on a
  * non-atomic store loses an update under a forced interleaving;
  * (2) the CAS owner serializes the SAME interleaving; (3) a threaded
  * race of full TxLogTable commits through the CAS owner lands both
  * writers' rows at distinct versions; (4) winner-crash between claim
  * and copy is repaired by the next reader/writer; (5) the POSIX owner
  * keeps the original link(2) behavior. Since the Hadoop-FS migration
  * destinations are `org.apache.hadoop.fs.Path`; the adversarial
  * stores keep byte-level java.nio writes so torn objects stay
  * observable mid-flight.
  */
class CommitOwnerSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private val localFs: FileSystem =
    FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  private def tmp(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)

  private def nio(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** A store whose `exists` answers can be held at a latch — forces
    * the textbook TOCTOU interleaving (both writers observe "absent"
    * before either writes).
    */
  private final class InterleavedStore extends ObjectStoreOps {
    val bothChecked = new CountDownLatch(2)
    override def exists(p: Path): Boolean = {
      val r = Files.exists(nio(p))
      if (p.getName.endsWith(".json")) {
        bothChecked.countDown()
        bothChecked.await(5, TimeUnit.SECONDS) // hold until both looked
      }
      r
    }
    override def put(p: Path, bytes: Array[Byte]): Unit = {
      Files.createDirectories(nio(p).getParent)
      Files.write(nio(p), bytes)
    }
    override def get(p: Path): Array[Byte] = Files.readAllBytes(nio(p))
    override def delete(p: Path): Unit = { Files.deleteIfExists(nio(p)); () }
  }

  private def race2(f: Int => Boolean): (Boolean, Boolean) = {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(() => f(0))
      val b = pool.submit(() => f(1))
      (a.get(20, TimeUnit.SECONDS), b.get(20, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("control: naive check-then-write on a non-atomic store admits two winners") {
    val dir = tmp("owner_naive")
    val store = new InterleavedStore
    val dest = dir.resolve("00000000000000000001.json")
    val (a, b) = race2 { i =>
      new NaiveCheckThenWriteOwner(store)
        .putIfAbsent(localFs, dest, CommitOwner.utf8(s"writer$i"))
    }
    // the forced interleaving makes BOTH believe they won — the lost
    // update the CAS protocol exists to prevent
    assert(a && b, s"expected the broken owner to double-win, got ($a,$b)")
  }

  test("CAS owner serializes maximally-overlapped writers to one winner") {
    val dir = tmp("owner_cas")
    // force FULL overlap: both writers must have staged their temp
    // object before either reaches the claim — the worst-case timing
    // for any protocol that isn't genuinely atomic at the CAS
    val bothStaged = new CountDownLatch(2)
    val store = new ObjectStoreOps {
      override def exists(p: Path): Boolean = Files.exists(nio(p))
      override def put(p: Path, bytes: Array[Byte]): Unit = {
        Files.createDirectories(nio(p).getParent)
        Files.write(nio(p), bytes)
        if (p.getName.startsWith(".tmp-cas")) {
          bothStaged.countDown()
          bothStaged.await(5, TimeUnit.SECONDS)
        }
      }
      override def get(p: Path): Array[Byte] = Files.readAllBytes(nio(p))
      override def delete(p: Path): Unit = { Files.deleteIfExists(nio(p)); () }
    }
    val registry = new InMemoryCasRegistry
    val dest = dir.resolve("00000000000000000001.json")
    val (a, b) = race2 { i =>
      new ExternalCasCommitOwner(registry, store, s"w$i")
        .putIfAbsent(localFs, dest, CommitOwner.utf8(s"writer$i"))
    }
    assert(a ^ b, s"exactly one winner expected, got ($a,$b)")
    // the published bytes are the winner's, and the claim is complete
    val winner = if (a) "writer0" else "writer1"
    assert(new String(Files.readAllBytes(nio(dest)), "UTF-8") == winner)
    assert(registry.get(dest.toString).exists(_.complete))
  }

  test("two TxLogTable appends racing through the CAS owner both land, serialized") {
    val root = Files.createTempDirectory("txlog_cas").toString
    val store = LocalObjectStoreOps
    val registry = new InMemoryCasRegistry
    def table(id: String) =
      new TxLogTable(spark, root, new ExternalCasCommitOwner(registry, store, id))
    table("init").ensureExists(schema)
    import spark.implicits._
    val landed = new AtomicInteger(0)
    val (a, b) = race2 { i =>
      table(s"w$i").append(
        Seq((i.toLong, s"from$i")).toDF("k", "v"))
      landed.incrementAndGet() > 0
    }
    assert(a && b)
    val t = table("reader")
    assert(t.currentVersion == 2L) // v0 create + two serialized appends
    val rows = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((0L, "from0"), (1L, "from1")),
      "a lost update would drop one writer's row")
  }

  test("winner crash between claim and copy is repaired on next access") {
    val root = Files.createTempDirectory("txlog_crash").toString
    val registry = new InMemoryCasRegistry
    /** put() to a destination .json key throws ONCE — simulating the
      * winner dying after its claim (tmp bytes durable) but before the
      * destination copy landed.
      */
    val crashing = new ObjectStoreOps {
      @volatile var armed = true
      override def exists(p: Path): Boolean = Files.exists(nio(p))
      override def put(p: Path, bytes: Array[Byte]): Unit = {
        val name = p.getName
        if (armed && name.endsWith(".json") && !name.startsWith(".tmp")) {
          armed = false
          throw new RuntimeException("simulated writer death")
        }
        Files.createDirectories(nio(p).getParent)
        Files.write(nio(p), bytes)
      }
      override def get(p: Path): Array[Byte] = Files.readAllBytes(nio(p))
      override def delete(p: Path): Unit = { Files.deleteIfExists(nio(p)); () }
    }
    def table(id: String) =
      new TxLogTable(spark, root, new ExternalCasCommitOwner(registry, crashing, id))
    // the create "crashes" mid-publish: claim recorded, object missing
    intercept[RuntimeException](table("victim").ensureExists(schema))
    assert(registry.get(
      new Path(new Path(root, "_log"), f"${0L}%020d.json").toString)
      .exists(!_.complete))
    // a later writer repairs v0 while losing its bid for it, then
    // commits its own append at v1 — the log self-heals
    val t2 = table("survivor")
    t2.ensureExists(schema)
    import spark.implicits._
    t2.append(Seq((9L, "after")).toDF("k", "v"))
    assert(t2.currentVersion == 1L)
    assert(t2.read().count() == 1L)
  }

  test("winner crash MID-copy (torn destination object) is healed by repair") {
    val root = tmp("txlog_torn")
    val registry = new InMemoryCasRegistry
    val full = CommitOwner.utf8("""{"v":0,"complete":"commit-record"}""")
    /** put() to a destination .json key writes HALF the bytes then
      * dies — the non-atomic-PUT failure mode the ObjectStoreOps
      * contract explicitly allows. `exists(dest)` is TRUE afterwards,
      * so a repair that trusts exists() would bless the torn object.
      */
    val tearing = new ObjectStoreOps {
      @volatile var armed = true
      override def exists(p: Path): Boolean = Files.exists(nio(p))
      override def put(p: Path, bytes: Array[Byte]): Unit = {
        Files.createDirectories(nio(p).getParent)
        val name = p.getName
        if (armed && name.endsWith(".json") && !name.startsWith(".tmp")) {
          armed = false
          Files.write(nio(p), bytes.take(bytes.length / 2)) // torn object
          throw new RuntimeException("simulated death mid-copy")
        }
        Files.write(nio(p), bytes)
      }
      override def get(p: Path): Array[Byte] = Files.readAllBytes(nio(p))
      override def delete(p: Path): Unit = { Files.deleteIfExists(nio(p)); () }
    }
    val dest = root.resolve("00000000000000000000.json")
    intercept[RuntimeException](
      new ExternalCasCommitOwner(registry, tearing, "victim")
        .putIfAbsent(localFs, dest, full))
    assert(Files.exists(nio(dest)) && Files.size(nio(dest)) < full.length,
      "precondition: the crash must leave a torn destination object")
    // a later writer's losing bid repairs the torn object from the
    // winner's durable temp — full content, claim complete
    val late = new ExternalCasCommitOwner(registry, tearing, "late")
    assert(!late.putIfAbsent(localFs, dest, CommitOwner.utf8("other")))
    assert(java.util.Arrays.equals(Files.readAllBytes(nio(dest)), full),
      "repair must restore the winner's full bytes over the torn object")
    assert(registry.get(dest.toString).exists(_.complete))
  }

  test("CAS owner leaves no temp objects behind (winner, loser, repairer)") {
    val dir = tmp("owner_gc")
    val registry = new InMemoryCasRegistry
    val dest = dir.resolve("00000000000000000003.json")
    val (a, b) = race2 { i =>
      new ExternalCasCommitOwner(registry, LocalObjectStoreOps, s"g$i")
        .putIfAbsent(localFs, dest, CommitOwner.utf8(s"g$i"))
    }
    assert(a ^ b)
    val litter = Files.list(nio(dir)).iterator()
    var names = List.empty[String]
    while (litter.hasNext) names ::= litter.next().getFileName.toString
    assert(names == List(dest.getName),
      s"contended commit must GC both writers' temp objects, got: $names")
  }

  test("winner's post-completion temp GC failure does not fake a lost race") {
    val dir = tmp("owner_gcfail")
    val registry = new InMemoryCasRegistry
    // delete() throws on the winner's own temp — an S3 throttle after
    // the commit is already durably published and marked complete
    val throttled = new ObjectStoreOps {
      override def exists(p: Path): Boolean = Files.exists(nio(p))
      override def put(p: Path, bytes: Array[Byte]): Unit = {
        Files.createDirectories(nio(p).getParent)
        Files.write(nio(p), bytes)
      }
      override def get(p: Path): Array[Byte] = Files.readAllBytes(nio(p))
      override def delete(p: Path): Unit =
        throw new RuntimeException("simulated DELETE throttle")
    }
    val dest = dir.resolve("00000000000000000011.json")
    val owner = new ExternalCasCommitOwner(registry, throttled, "w")
    // GC failure must be invisible: the publish IS durable, so the
    // caller must see true (a throw → retry → false would convince a
    // committed writer it lost its own commit)
    assert(owner.putIfAbsent(localFs, dest, CommitOwner.utf8("payload")))
    assert(registry.get(dest.toString).exists(_.complete))
    assert(new String(Files.readAllBytes(nio(dest)), "UTF-8") == "payload")
  }

  test("loser's temp is GC'd even when repairing the winner's publish fails") {
    val dir = tmp("owner_losergc")
    val registry = new InMemoryCasRegistry
    // Seed an incomplete claim whose temp object is MISSING and will
    // never complete — repair() must throw (real failure, not the
    // benign GC race). The loser's own temp must still be GC'd.
    val deadTmp = ".tmp-cas-dead"
    registry.claim(dir.resolve("00000000000000000012.json").toString,
      ClaimEntry("ghost", deadTmp, complete = false))
    val dest = dir.resolve("00000000000000000012.json")
    val owner = new ExternalCasCommitOwner(registry, LocalObjectStoreOps, "l")
    intercept[Exception](
      owner.putIfAbsent(localFs, dest, CommitOwner.utf8("mine")))
    val litter = Files.list(nio(dir)).iterator()
    var names = List.empty[String]
    while (litter.hasNext) names ::= litter.next().getFileName.toString
    assert(names.isEmpty,
      s"loser's staged temp must be GC'd despite the repair failure: $names")
  }

  test("repairer's own torn put(dest) surfaces even if the claim completes concurrently") {
    val dir = tmp("owner_repairtear")
    val registry = new InMemoryCasRegistry
    val dest = dir.resolve("00000000000000000013.json")
    val winnerBytes = CommitOwner.utf8("winner-full-payload")
    // durable temp from a claimed-but-incomplete winner
    val tmpKey = ".tmp-cas-winner"
    Files.createDirectories(nio(dir))
    Files.write(nio(dir.resolve(tmpKey)), winnerBytes)
    registry.claim(dest.toString, ClaimEntry("w", tmpKey, complete = false))
    // the repairer's put(dest) tears mid-write and throws, and the
    // "winner" concurrently marks the claim complete — the failure must
    // STILL surface (old behavior: swallowed because complete=true,
    // leaving a torn dest behind a blessed claim)
    val tearing = new ObjectStoreOps {
      override def exists(p: Path): Boolean = Files.exists(nio(p))
      override def put(p: Path, bytes: Array[Byte]): Unit = {
        Files.createDirectories(nio(p).getParent)
        if (!p.getName.startsWith(".tmp")) {
          Files.write(nio(p), bytes.take(bytes.length / 2))
          registry.markComplete(dest.toString) // concurrent completion
          throw new RuntimeException("torn PUT")
        }
        Files.write(nio(p), bytes)
      }
      override def get(p: Path): Array[Byte] = Files.readAllBytes(nio(p))
      override def delete(p: Path): Unit = { Files.deleteIfExists(nio(p)); () }
    }
    val repairer = new ExternalCasCommitOwner(registry, tearing, "r")
    val err = intercept[RuntimeException](repairer.recover(localFs, dest))
    assert(err.getMessage == "torn PUT",
      "a put(dest) failure in repair must never be swallowed")
  }

  test("POSIX owner: link(2) publish keeps exactly-one-winner on a real fs") {
    val dir = tmp("owner_posix")
    val dest = dir.resolve("00000000000000000007.json")
    val (a, b) = race2 { i =>
      PosixCommitOwner.putIfAbsent(localFs, dest, CommitOwner.utf8(s"p$i"))
    }
    assert(a ^ b)
    // and no temp litter survives
    val leftovers = Files.list(nio(dir)).iterator()
    var names = List.empty[String]
    while (leftovers.hasNext)
      names ::= leftovers.next().getFileName.toString
    assert(names == List(dest.getName), s"litter: $names")
  }

  test("HadoopObjectStoreOps round-trips bytes over the resolved filesystem") {
    val dir = tmp("owner_hstore")
    val store = new HadoopObjectStoreOps(localFs)
    val p = dir.resolve("blob.bin")
    assert(!store.exists(p))
    store.put(p, CommitOwner.utf8("first"))
    store.put(p, CommitOwner.utf8("second")) // blind LWW PUT
    assert(store.exists(p))
    assert(new String(store.get(p), "UTF-8") == "second")
    store.delete(p)
    store.delete(p) // idempotent: deleting a missing key succeeds
    assert(!store.exists(p))
  }

  test("Hadoop-rename owner: of two writers bidding for one version over a " +
      "local FileContext one wins, and the loser retries at the next") {
    val root = Files.createTempDirectory("txlog_hrename").toString
    def table() = new TxLogTable(spark, root, HadoopRenameCommitOwner)
    import spark.implicits._
    val (a, b) = (table(), table())
    a.ensureExists(schema)
    // both writers stage against version 0, then bid for version 1
    val stagedA = a.stageData(Seq((1L, "a")).toDF("k", "v")).name
    val stagedB = b.stageData(Seq((2L, "b")).toDF("k", "v")).name
    assert(a.tryCommitForTest(1L, stagedA, schema.json))
    assert(!b.tryCommitForTest(1L, stagedB, schema.json),
      "the rename must refuse a published version")
    // the loser's bid left the winner's manifest and no temp file
    val logDir = nio(new Path(new Path(root), "_log"))
    val names = Files.list(logDir).iterator()
    var litter = List.empty[String]
    while (names.hasNext) {
      val n = names.next().getFileName.toString
      if (n.contains(".tmp-")) litter ::= n
    }
    assert(litter.isEmpty, s"litter: $litter")
    assert(b.readAt(1L).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // the loser's commit loop retries against the winner's snapshot
    assert(b.append(Seq((2L, "b")).toDF("k", "v")) === 2L)
    assert(table().read().orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }
}
