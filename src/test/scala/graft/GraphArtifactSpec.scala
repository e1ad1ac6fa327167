package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.GraphArtifact

/** Build-once / serve-many graph-edge artifact (operators/GraphArtifact):
  * served edge lists must equal the inline derivation row for row, the
  * graph queries must return identical results under both paths, the
  * served plan must read the artifact parquet instead of re-deriving
  * from lineitem/events, appends must be PARTITION-LOCAL (untouched
  * buckets' files byte-identical across an append), replays must fail
  * loudly against the seen-order ledger, and every crash window in the
  * build-swap / append protocol must be repaired by recover(). */
class GraphArtifactSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graph-artifact")
      .resolve("graph").toString
    GraphArtifact.build(spark, sf, d)
    d
  }

  private def served[A](body: => A): A = {
    spark.conf.set(GraphArtifact.Key, dir)
    try body finally spark.conf.unset(GraphArtifact.Key)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("graph").toString

  /** Relative path → (mtime, size) for every regular file under dir. */
  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => (base.relativize(p).toString,
          (java.nio.file.Files.getLastModifiedTime(p).toMillis,
            java.nio.file.Files.size(p))))
        .toMap
    }
  }

  private val AllSubs = Seq("copurchase_support", "copurchase", "click", "orders")

  private def snapshotAll(root: String): Map[String, Map[String, (Long, Long)]] =
    AllSubs.map(sub => sub -> snapshot(s"$root/$sub")).toMap

  private def noClicks = Seq.empty[(Long, Long)].toDF("u", "v")

  test("adaptive bucket count clamps in BigInt and keeps powers of two") {
    val mb32 = BigInt(32L << 20)
    assert(GraphArtifact.adaptiveBuckets(BigInt(2).pow(100)) === 4096)
    assert(GraphArtifact.adaptiveBuckets(BigInt(Long.MaxValue) * 4) === 4096)
    assert(GraphArtifact.adaptiveBuckets(0) === 8)
    for (k <- Iterator.iterate(8)(_ * 2).takeWhile(_ <= 4096))
      assert(GraphArtifact.adaptiveBuckets(mb32 * k) === k)
    assert(GraphArtifact.adaptiveBuckets(mb32 * 9) === 16)
    assert(GraphArtifact.adaptiveBuckets(mb32 * 5000) === 4096)
  }

  test("served co-purchase edges equal the inline derivation") {
    val inline = GraphArtifact.coPurchaseInline(spark, sf)
      .as[(Long, Long)].collect().toSet
    val fromArtifact = served {
      GraphArtifact.coPurchase(spark, sf).as[(Long, Long)].collect().toSet
    }
    assert(inline.nonEmpty)
    assert(fromArtifact === inline)
  }

  test("append on an order-disjoint batch equals a full rebuild") {
    val items = GraphArtifact.itemsInline(spark, sf)
    val clicks = GraphArtifact.clickEdgesInline(spark, sf)
    // base = 80% of orders; batch = the remaining 20% (order-disjoint,
    // the daily-ingest precondition append now ENFORCES via the ledger)
    val base = items.filter(col("o") % 5 =!= 0)
    val batch = items.filter(col("o") % 5 === 0)
    val cBase = clicks.filter(col("u") % 5 =!= 0)
    val cBatch = clicks.filter(col("u") % 5 === 0)
    val d = tmp("graph-append")
    // appending into a non-existent artifact must refuse loudly
    val thrown = intercept[IllegalArgumentException] {
      GraphArtifact.append(spark, batch, cBatch, d)
    }
    assert(thrown.getMessage.contains("rebuild"))
    GraphArtifact.buildFrom(spark, base, cBase, d)
    GraphArtifact.append(spark, batch, cBatch, d)
    // appended state must equal a from-scratch build over the union
    val full = tmp("graph-full")
    GraphArtifact.buildFrom(spark, items, clicks, full)
    for (sub <- AllSubs) {
      val a = spark.read.parquet(s"$d/$sub").collect()
        .map(_.toSeq).toSet
      val b = spark.read.parquet(s"$full/$sub").collect()
        .map(_.toSeq).toSet
      assert(a === b, sub)
      assert(a.nonEmpty, sub)
    }
    // and the appended artifact serves the graph queries unchanged
    val inlineEdges = GraphArtifact.coPurchaseInline(spark, sf)
      .as[(Long, Long)].collect().toSet
    spark.conf.set(GraphArtifact.Key, d)
    try {
      val servedEdges = GraphArtifact.coPurchase(spark, sf)
        .as[(Long, Long)].collect().toSet
      assert(servedEdges === inlineEdges)
    } finally spark.conf.unset(GraphArtifact.Key)
  }

  test("two concurrent appenders: the loser fails fast, the artifact untouched") {
    val items = GraphArtifact.itemsInline(spark, sf)
    val base = items.filter(col("o") % 5 =!= 0)
    val batch = items.filter(col("o") % 5 === 0)
    val d = tmp("graph-lease")
    GraphArtifact.buildFrom(spark, base, noClicks, d)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(d + ".lease")
    // a LIVE appender in another session: fresh lease, foreign owner
    graft.common.WriterLease.acquire(fs, lease, owner = "other-pid@elsewhere")
    val before = snapshotAll(d)
    val ex = intercept[IllegalStateException] {
      GraphArtifact.append(spark, batch, noClicks, d)
    }
    assert(ex.getMessage.contains("writer lease"))
    assert(snapshotAll(d) === before,
      "a fenced-out appender must not have touched a single file")
    assert(fs.exists(lease), "the loser must not release the holder's lease")
    // holder finishes -> the retried append proceeds and commits
    graft.common.WriterLease.release(fs, lease)
    GraphArtifact.append(spark, batch, noClicks, d)
    assert(!fs.exists(lease), "the winner's lease releases on exit")
    val full = tmp("graph-lease-full")
    GraphArtifact.buildFrom(spark, items, noClicks, full)
    val a = spark.read.parquet(s"$d/copurchase_support").collect().map(_.toSeq).toSet
    val b = spark.read.parquet(s"$full/copurchase_support").collect().map(_.toSeq).toSet
    assert(a === b)
    // a CRASHED holder (stale lease past its TTL) is reclaimed
    graft.common.WriterLease.acquire(fs, lease, owner = "dead@elsewhere", ttlMs = -1)
    GraphArtifact.repair(spark, d) // acquires by breaking the stale lease
    assert(!fs.exists(lease))
  }

  test("the append law is bucket-count agnostic (8 buckets vs default 32)") {
    // bucket count is a LAYOUT knob: base+append must equal a full
    // rebuild at ANY count, and the logical content must not depend on
    // the count at all (q302 runs its throwaway proof state at 8)
    val items = GraphArtifact.itemsInline(spark, sf)
    val clicks = GraphArtifact.clickEdgesInline(spark, sf)
    val d8 = tmp("graph-bk8")
    spark.conf.set(GraphArtifact.BucketsKey, "8")
    try {
      GraphArtifact.buildFrom(spark, items.filter(col("o") % 5 =!= 0),
        clicks.filter(col("u") % 5 =!= 0), d8)
      GraphArtifact.append(spark, items.filter(col("o") % 5 === 0),
        clicks.filter(col("u") % 5 === 0), d8)
    } finally spark.conf.unset(GraphArtifact.BucketsKey)
    val bkts = new java.io.File(s"$d8/copurchase_support").listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName).toSet
    assert(bkts.nonEmpty && bkts.size <= 8, s"expected ≤8 buckets, got $bkts")
    val full32 = tmp("graph-bk32")
    GraphArtifact.buildFrom(spark, items, clicks, full32) // default count
    for (sub <- AllSubs) {
      def content(root: String) = spark.read.parquet(s"$root/$sub")
        .drop("bkt").collect().map(_.toSeq).toSet
      assert(content(d8) === content(full32), sub)
    }
  }

  test("append rewrites ONLY the touched buckets; replay fails loudly") {
    val items = GraphArtifact.itemsInline(spark, sf)
    val d = tmp("graph-local")
    // pin the layout width: this test asserts WHICH bucket ids change,
    // so it must build at a known count (the round-15 size-adaptive
    // default would pick a small width on the spec fixture)
    spark.conf.set(GraphArtifact.BucketsKey, "32")
    try GraphArtifact.buildFrom(spark, items,
      GraphArtifact.clickEdgesInline(spark, sf), d)
    finally spark.conf.unset(GraphArtifact.BucketsKey)
    val before = snapshotAll(d)
    // one new order with two parts ⇒ one support pair ⇒ one touched
    // support bucket, one touched order bucket, zero click buckets
    val batch = Seq((999999999L, 1L), (999999999L, 2L)).toDF("o", "p")
    GraphArtifact.append(spark, batch, noClicks, d)
    val after = snapshotAll(d)
    val pairBkt = spark.range(1)
      .select(pmod(hash(lit(1L), lit(2L)), lit(32))).collect()(0).getInt(0)
    val orderBkt = spark.range(1)
      .select(pmod(hash(lit(999999999L)), lit(32))).collect()(0).getInt(0)
    def changedBuckets(sub: String): Set[String] = {
      val b = before(sub); val a = after(sub)
      (b.keySet ++ a.keySet).filter(k => b.get(k) != a.get(k))
        .flatMap(_.split('/').find(_.startsWith("bkt=")))
    }
    assert(changedBuckets("copurchase_support") === Set(s"bkt=$pairBkt"))
    assert(changedBuckets("copurchase").subsetOf(Set(s"bkt=$pairBkt")))
    assert(changedBuckets("orders") === Set(s"bkt=$orderBkt"))
    assert(changedBuckets("click") === Set.empty[String])
    // the locality claim is only meaningful if many buckets existed
    assert(before("copurchase_support").keySet
      .flatMap(_.split('/').find(_.startsWith("bkt="))).size > 4)
    // bucket-aligned writes: each bucket directory is exactly ONE
    // parquet file (tasks x buckets small-file sprawl is the thing the
    // pre-write repartition exists to prevent)
    for (sub <- AllSubs) {
      val perBucket = after(sub).keySet.filter(_.endsWith(".parquet"))
        .groupBy(_.split('/').find(_.startsWith("bkt=")).getOrElse(""))
        .filter(_._1.nonEmpty)
      assert(perBucket.nonEmpty, sub)
      perBucket.foreach { case (bkt, files) =>
        assert(files.size === 1, s"$sub/$bkt has ${files.size} files")
      }
    }
    // no transient state left behind
    for (leftover <- Seq("_staged", "_backup", "_meta/pending.json"))
      assert(!new java.io.File(s"$d/$leftover").exists(), leftover)
    // the appended pair is present with merged support
    val sup = spark.read.parquet(s"$d/copurchase_support")
      .where(col("a") === 1L && col("b") === 2L)
      .select("support").as[Long].collect()
    assert(sup.length === 1 && sup(0) >= 1)
    // replaying the SAME batch must fail loudly (double-count hazard)
    val ex = intercept[IllegalArgumentException] {
      GraphArtifact.append(spark, batch, noClicks, d)
    }
    assert(ex.getMessage.contains("order-disjoint"))
    // ...and the failed replay must not have modified anything
    assert(snapshotAll(d) === after)
  }

  test("empty append is a no-op (no new committed state, no file churn)") {
    val d = tmp("graph-empty")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    val before = snapshotAll(d)
    val stateBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d/_meta/state.json"))
    GraphArtifact.append(spark, Seq.empty[(Long, Long)].toDF("o", "p"),
      noClicks, d)
    assert(snapshotAll(d) === before)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d/_meta/state.json")) === stateBefore)
  }

  test("recover() rolls an UNcommitted append back to the pre-append state") {
    val d = tmp("graph-rollback")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    val original = spark.read.parquet(s"$d/copurchase_support")
      .collect().map(_.toSeq).toSet
    // simulate a crash after the backup rename, before the staged
    // swap-in: live bucket moved aside, pending written, batch id NOT
    // in the committed state
    val bkts = new java.io.File(s"$d/copurchase_support").listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName).sorted
    val k = bkts.head.stripPrefix("bkt=").toInt
    new java.io.File(s"$d/_backup/copurchase_support").mkdirs()
    assert(new java.io.File(s"$d/copurchase_support/bkt=$k")
      .renameTo(new java.io.File(s"$d/_backup/copurchase_support/bkt=$k")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_meta/pending.json"),
      s"""{"batchId":"deadbeef","subs":{"copurchase_support":[{"bkt":$k,"hadBase":true}]}}""")
    GraphArtifact.recover(spark, d)
    assert(!new java.io.File(s"$d/_meta/pending.json").exists())
    assert(!new java.io.File(s"$d/_backup").exists())
    val recovered = spark.read.parquet(s"$d/copurchase_support")
      .collect().map(_.toSeq).toSet
    assert(recovered === original)
  }

  test("recover() rolls a COMMITTED append forward (cleanup only)") {
    val d = tmp("graph-rollfwd")
    val items = GraphArtifact.itemsInline(spark, sf)
    GraphArtifact.buildFrom(spark, items.filter(col("o") % 5 =!= 0),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    GraphArtifact.append(spark, items.filter(col("o") % 5 === 0),
      noClicks, d)
    val appended = spark.read.parquet(s"$d/copurchase_support")
      .collect().map(_.toSeq).toSet
    // simulate a crash between the state promote and the cleanup: the
    // pending marker and a stray backup survive with the batch id
    // already committed
    val state = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d/_meta/state.json"))
    val id = """"([0-9a-f-]{36})"""".r.findFirstMatchIn(state).get.group(1)
    val bkts = new java.io.File(s"$d/copurchase_support").listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName).sorted
    val k = bkts.head.stripPrefix("bkt=").toInt
    new java.io.File(s"$d/_backup/copurchase_support").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_backup/copurchase_support/junk"), "stale")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_meta/pending.json"),
      s"""{"batchId":"$id","subs":{"copurchase_support":[{"bkt":$k,"hadBase":true}]}}""")
    GraphArtifact.recover(spark, d)
    assert(!new java.io.File(s"$d/_meta/pending.json").exists())
    assert(!new java.io.File(s"$d/_backup").exists())
    val after = spark.read.parquet(s"$d/copurchase_support")
      .collect().map(_.toSeq).toSet
    assert(after === appended)
  }

  test("recover() rolls an interrupted BUILD swap forward") {
    val d = tmp("graph-buildswap")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    val original = spark.read.parquet(s"$d/copurchase")
      .collect().map(_.toSeq).toSet
    // simulate the crash between `live → .old` and `staging → live`:
    // live missing, staging complete, stale .old present
    assert(new java.io.File(d).renameTo(new java.io.File(d + ".staging")))
    new java.io.File(d + ".old").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d + ".old/junk"), "previous artifact")
    GraphArtifact.recover(spark, d)
    assert(new java.io.File(d).exists())
    assert(!new java.io.File(d + ".staging").exists())
    assert(!new java.io.File(d + ".old").exists())
    assert(spark.read.parquet(s"$d/copurchase")
      .collect().map(_.toSeq).toSet === original)
  }

  test("served click edges equal the inline derivation") {
    val inline = GraphArtifact.clickEdgesInline(spark, sf)
      .as[(Long, Long)].collect().toSet
    val fromArtifact = served {
      GraphArtifact.clickEdges(spark, sf).as[(Long, Long)].collect().toSet
    }
    assert(inline.nonEmpty)
    assert(fromArtifact === inline)
  }

  test("graph queries are row-equal served vs inline (q179, q116)") {
    for (name <- Seq("q179_triangle_count", "q116_pagerank")) {
      val q = SparkEntry.queries(name)
      val inline = q(spark, sf).collect().map(_.toSeq).toSeq
      val art = served { q(spark, sf).collect().map(_.toSeq).toSeq }
      assert(inline.nonEmpty, name)
      assert(art === inline, name)
    }
  }

  test("served plan scans the artifact, not the base tables") {
    served {
      val plan = GraphArtifact.coPurchase(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("copurchase"), plan.take(400))
      assert(!plan.contains("lineitem"), "served path must not re-derive")
    }
  }

  test("unset conf falls back to inline derivation (self-contained queries)") {
    val plan = GraphArtifact.coPurchase(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("lineitem"))
  }

  test("conf set but artifact incomplete fails loudly (no silent fallback)") {
    val empty = java.nio.file.Files.createTempDirectory("graph-hollow").toString
    spark.conf.set(GraphArtifact.Key, empty)
    try {
      val ex = intercept[IllegalStateException] {
        GraphArtifact.coPurchase(spark, sf)
      }
      assert(ex.getMessage.contains("missing"))
    } finally spark.conf.unset(GraphArtifact.Key)
  }

  test("rebuild is atomic: no .staging/.old residue, artifact replaced wholesale") {
    GraphArtifact.build(spark, sf, dir) // second build over the first
    assert(!new java.io.File(dir + ".staging").exists())
    assert(!new java.io.File(dir + ".old").exists())
    val n = served { GraphArtifact.coPurchase(spark, sf).count() }
    assert(n === GraphArtifact.coPurchaseInline(spark, sf).count())
  }

  test("serve packs tiny bucket files into byte-proportional scan partitions") {
    // one scan task per bucket file at KB scale is the round-8 q116/q244
    // regression (maxSplitBytes degenerates to openCostInBytes once
    // bytesPerCore < openCost) — serve must coalesce to
    // ceil(bytes/maxPartitionBytes), which is 1 here and a no-op at scale
    val parts = served {
      GraphArtifact.clickEdges(spark, sf).rdd.getNumPartitions
    }
    assert(parts === 1,
      s"KB-scale serve must read as ONE task, got $parts — the 32-bucket " +
        "layout is leaking one task per bucket file again")
  }

  test("EMPTY sub at build time stays readable, servable, and appendable") {
    // a corpus with no click events: partitionBy alone would leave a
    // directory with only _SUCCESS, and every later read would die with
    // "Unable to infer schema" — the build-time guard persists a
    // zero-row schema file instead
    val d = tmp("graph-emptysub")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf), noClicks, d)
    val click = spark.read.parquet(s"$d/click")
    assert(click.count() === 0)
    assert(click.columns.sorted.toSeq === Seq("bkt", "u", "v"))
    val servedClicks = {
      spark.conf.set(GraphArtifact.Key, d)
      try GraphArtifact.clickEdges(spark, sf).count()
      finally spark.conf.unset(GraphArtifact.Key)
    }
    assert(servedClicks === 0)
    // the empty sub accepts a later append exactly like a populated one
    val batch = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
    GraphArtifact.append(spark,
      spark.emptyDataset[(Long, Long)].toDF("o", "p"), batch, d)
    assert(spark.read.parquet(s"$d/click").select("u", "v")
      .as[(Long, Long)].collect().toSet === Set((1L, 2L), (3L, 4L)))
  }

  test("serve is READ-ONLY: uncommitted pending fails loudly, zero file churn") {
    val d = tmp("graph-serve-ro")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    // an append that looks IN FLIGHT from another session: pending
    // marker present, batch id not committed, one bucket moved aside
    val bkts = new java.io.File(s"$d/copurchase_support").listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName).sorted
    val k = bkts.head.stripPrefix("bkt=").toInt
    new java.io.File(s"$d/_backup/copurchase_support").mkdirs()
    assert(new java.io.File(s"$d/copurchase_support/bkt=$k")
      .renameTo(new java.io.File(s"$d/_backup/copurchase_support/bkt=$k")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_meta/pending.json"),
      s"""{"batchId":"deadbeef","subs":{"copurchase_support":[{"bkt":$k,"hadBase":true}]}}""")
    val before = snapshot(d)
    spark.conf.set(GraphArtifact.Key, d)
    val ex = try intercept[IllegalStateException] {
      GraphArtifact.coPurchase(spark, sf)
    } finally spark.conf.unset(GraphArtifact.Key)
    assert(ex.getMessage.contains("uncommitted append"))
    // a reader must not have rolled the (possibly live) append back:
    // every file byte-identical, marker and backups still in place
    assert(snapshot(d) === before)
    assert(new java.io.File(s"$d/_meta/pending.json").exists())
    assert(new java.io.File(s"$d/_backup/copurchase_support/bkt=$k").exists())
    // the OPERATIONAL repair entry point (single-writer contract) is
    // what rolls back; serving then succeeds
    GraphArtifact.repair(spark, d)
    assert(!new java.io.File(s"$d/_meta/pending.json").exists())
    val n = {
      spark.conf.set(GraphArtifact.Key, d)
      try GraphArtifact.coPurchase(spark, sf).count()
      finally spark.conf.unset(GraphArtifact.Key)
    }
    assert(n === GraphArtifact.coPurchaseInline(spark, sf).count())
  }

  test("serve reads a crashed BUILD swap from staging, read-only") {
    // crash window: live renamed aside (gone), complete staging not yet
    // renamed in — recover() would roll forward; a READER must instead
    // serve the staging copy without moving anything
    val d = tmp("graph-serve-staging")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    val expected = spark.read.parquet(s"$d/copurchase").drop("bkt")
      .as[(Long, Long)].collect().toSet
    assert(new java.io.File(d).renameTo(new java.io.File(d + ".staging")))
    val before = snapshot(d + ".staging")
    val got = {
      spark.conf.set(GraphArtifact.Key, d)
      try GraphArtifact.coPurchase(spark, sf).as[(Long, Long)].collect().toSet
      finally spark.conf.unset(GraphArtifact.Key)
    }
    assert(got === expected)
    assert(!new java.io.File(d).exists(), "reader must NOT perform the swap")
    assert(snapshot(d + ".staging") === before)
    // the write-entry-point repair then completes the swap for good
    GraphArtifact.repair(spark, d)
    assert(new java.io.File(s"$d/copurchase").exists())
    assert(!new java.io.File(d + ".staging").exists())
  }

  test("serve reads through a COMMITTED pending marker without repairing it") {
    val d = tmp("graph-serve-committed")
    val items = GraphArtifact.itemsInline(spark, sf)
    GraphArtifact.buildFrom(spark, items.filter(col("o") % 5 =!= 0),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    GraphArtifact.append(spark, items.filter(col("o") % 5 === 0),
      noClicks, d)
    val expected = {
      spark.conf.set(GraphArtifact.Key, d)
      try GraphArtifact.coPurchase(spark, sf)
        .as[(Long, Long)].collect().toSet
      finally spark.conf.unset(GraphArtifact.Key)
    }
    // crash window between state promote and cleanup: marker + stray
    // backup survive with the batch id already committed — every
    // touched bucket already swapped in, so a read-only serve is safe
    val state = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d/_meta/state.json"))
    val id = """"([0-9a-f-]{36})"""".r.findFirstMatchIn(state).get.group(1)
    new java.io.File(s"$d/_backup/copurchase_support").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_backup/copurchase_support/junk"), "stale")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_meta/pending.json"),
      s"""{"batchId":"$id","subs":{"copurchase_support":[]}}""")
    val before = snapshot(d)
    val got = {
      spark.conf.set(GraphArtifact.Key, d)
      try GraphArtifact.coPurchase(spark, sf)
        .as[(Long, Long)].collect().toSet
      finally spark.conf.unset(GraphArtifact.Key)
    }
    assert(got === expected)
    // read-only: the garbage is left for the next WRITE entry point
    assert(snapshot(d) === before)
    assert(new java.io.File(s"$d/_meta/pending.json").exists())
  }

  // ------------------------------------------------------------------
  // bucketedServe — the iteration-shaped serving state (round 11)
  // ------------------------------------------------------------------

  private def bucketedServed[A](artDir: String)(body: => A): A = {
    spark.conf.set(GraphArtifact.Key, artDir)
    spark.conf.set(GraphArtifact.BucketedServeKey, "true")
    try body finally {
      spark.conf.unset(GraphArtifact.BucketedServeKey)
      spark.conf.unset(GraphArtifact.Key)
    }
  }

  test("bucketedServe: iteration frames equal the default recipe (multiset)") {
    // click frame (u, v, deg): MULTISET equality — the stored shape must
    // reproduce mirror-without-distinct exactly, deg included
    val defClick = GraphArtifact.clickIterEdges(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val bktClick = bucketedServed(dir) {
      GraphArtifact.clickIterEdges(spark, sf)
        .select("u", "v", "deg").as[(Long, Long, Long)].collect().toSeq.sorted
    }
    assert(defClick.nonEmpty)
    assert(bktClick === defClick)
    // co-purchase frame (src, dst) = exact mirror of the served edges
    val mirrorInline = {
      val e = GraphArtifact.coPurchaseInline(spark, sf)
        .as[(Long, Long)].collect().toSeq
      (e ++ e.map(_.swap)).sorted
    }
    val bktCo = bucketedServed(dir) {
      GraphArtifact.coPurchaseIterServed(spark).get
        .as[(Long, Long)].collect().toSeq.sorted
    }
    assert(bktCo === mirrorInline)
    // conf off ⇒ no bucketed frame offered (default path untouched)
    assert(served { GraphArtifact.coPurchaseIterServed(spark) }.isEmpty)
  }

  test("graph queries are row-equal under bucketedServe (q116, q242, q211)") {
    for (name <- Seq("q116_pagerank", "q242_ppr", "q211_hyperball")) {
      val q = SparkEntry.queries(name)
      val inline = q(spark, sf).collect().map(_.toSeq).toSeq
      val bucketed = bucketedServed(dir) { q(spark, sf).collect().map(_.toSeq).toSeq }
      assert(inline.nonEmpty, name)
      assert(bucketed === inline, name)
    }
  }

  test("append maintains the iteration-shaped subs bucket-locally") {
    // handcrafted corpus so the delta is fully controlled: base has one
    // qualifying co-purchase edge (10,20) and one sub-threshold pair
    // (30,40); the batch's order pushes (30,40) over the threshold and
    // adds one new click — so the iter deltas are exactly known
    val baseItems = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 30L), (3L, 40L)).toDF("o", "p")
    val baseClicks = Seq((100L, -1L), (101L, -1L)).toDF("u", "v")
    val batchItems = Seq((4L, 30L), (4L, 40L)).toDF("o", "p")
    val batchClicks = Seq((100L, -2L)).toDF("u", "v")
    val d = tmp("graph-iter-append")
    // pinned width for the same reason as the touched-buckets test
    spark.conf.set(GraphArtifact.BucketsKey, "32")
    try GraphArtifact.buildFrom(spark, baseItems, baseClicks, d)
    finally spark.conf.unset(GraphArtifact.BucketsKey)
    val before = Seq("click_iter", "copurchase_iter")
      .map(sub => sub -> snapshot(s"$d/$sub")).toMap
    GraphArtifact.append(spark, batchItems, batchClicks, d)
    val after = Seq("click_iter", "copurchase_iter")
      .map(sub => sub -> snapshot(s"$d/$sub")).toMap
    // content equals a from-scratch build over the union
    val full = tmp("graph-iter-full")
    GraphArtifact.buildFrom(spark, baseItems.union(batchItems),
      baseClicks.union(batchClicks), full)
    for (sub <- Seq("click_iter", "copurchase_iter")) {
      val a = spark.read.parquet(s"$d/$sub").collect().map(_.toSeq)
        .sortBy(_.toString)
      val b = spark.read.parquet(s"$full/$sub").collect().map(_.toSeq)
        .sortBy(_.toString)
      assert(a.nonEmpty, sub)
      assert(a === b, sub)
    }
    // the appended click's deg took effect: u=100 now has degree 2
    assert(spark.read.parquet(s"$d/click_iter").where(col("u") === 100L)
      .select("deg").as[Long].collect().toSet === Set(2L))
    // LOCALITY: only files of the expected bucket ids changed — mirror
    // of the new click touches hash(100)/hash(-2); mirror of the newly
    // qualified edge (30,40) touches hash(30)/hash(40)
    def bucketsOf(vals: Long*): Set[Int] = vals.map { v =>
      spark.range(1).select(pmod(hash(lit(v)), lit(32))).collect()(0).getInt(0)
    }.toSet
    def changed(sub: String): Set[Int] = {
      val b = before(sub); val a = after(sub)
      (b.keySet ++ a.keySet).filter(k => b.get(k) != a.get(k))
        .flatMap(n => """_(\d+)(?:\..*)?$""".r.findFirstMatchIn(n).map(_.group(1).toInt))
    }
    assert(changed("click_iter") === bucketsOf(100L, -2L))
    assert(changed("copurchase_iter") === bucketsOf(30L, 40L))
    // and the bucketed serve over the appended artifact matches a
    // bucketed serve over the full rebuild (same catalog path semantics)
    val servedAppended = bucketedServed(d) {
      GraphArtifact.coPurchaseIterServed(spark).get
        .as[(Long, Long)].collect().toSeq.sorted
    }
    assert(servedAppended === Seq((10L, 20L), (20L, 10L), (30L, 40L), (40L, 30L)))
  }

  test("bucketedServe on an artifact without iteration subs fails loudly") {
    val d = tmp("graph-pre-iter")
    GraphArtifact.buildFrom(spark,
      Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)).toDF("o", "p"),
      noClicks, d)
    // simulate a pre-round-11 artifact: iteration subs absent
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete()
    }
    rmrf(new java.io.File(s"$d/click_iter"))
    rmrf(new java.io.File(s"$d/copurchase_iter"))
    val ex = intercept[IllegalStateException] {
      bucketedServed(d) { GraphArtifact.clickIterEdges(spark, sf).collect() }
    }
    assert(ex.getMessage.contains("rebuild"))
    // the dir-partitioned serving state is unaffected
    val stillServed = served {
      GraphArtifact.coPurchase(spark, sf).collect()
    }
    assert(stillServed.nonEmpty)
  }

  test("bucketedServe=auto declines to inline when the iteration subs are missing") {
    val d = tmp("graph-pre-iter-auto")
    GraphArtifact.buildFrom(spark,
      Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)).toDF("o", "p"),
      noClicks, d)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete()
    }
    rmrf(new java.io.File(s"$d/click_iter"))
    rmrf(new java.io.File(s"$d/copurchase_iter"))
    // mode=true demands the sub (pinned above: hard throw); auto is an
    // optimization rule with a correct fallback, so a pre-round-11
    // artifact serves INLINE instead of failing the read (round-13
    // ADVICE) — same multiset as the no-conf recipe
    spark.conf.set(GraphArtifact.Key, d)
    spark.conf.set(GraphArtifact.BucketedServeKey, "auto")
    try {
      assert(GraphArtifact.coPurchaseIterServed(spark).isEmpty,
        "auto + missing sub must decline, not throw")
      assert(GraphArtifact.clickIterServed(spark).isEmpty)
      // the bundled-default entry point completes through the inline
      // recipe (under mode=true the same call is pinned to THROW above)
      GraphArtifact.clickIterEdges(spark, sf).collect()
      // and the dir-partitioned serving state is unaffected
      assert(GraphArtifact.coPurchase(spark, sf).collect().nonEmpty)
    } finally {
      spark.conf.unset(GraphArtifact.Key)
      spark.conf.unset(GraphArtifact.BucketedServeKey)
    }
  }

  test("recover() rolls back an UNcommitted iteration-sub file swap") {
    val d = tmp("graph-iter-rollback")
    GraphArtifact.buildFrom(spark,
      GraphArtifact.itemsInline(spark, sf),
      GraphArtifact.clickEdgesInline(spark, sf), d)
    val original = spark.read.parquet(s"$d/click_iter")
      .collect().map(_.toSeq).toSet
    // crash window: one bucket's base FILE moved to backup, a staged-in
    // impostor file for the same bucket landed live, pending written
    // with the batch uncommitted
    val files = new java.io.File(s"$d/click_iter").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val victim = files.head
    val k = """_(\d+)(?:\..*)?$""".r.findFirstMatchIn(victim.getName)
      .get.group(1).toInt
    new java.io.File(s"$d/_backup/click_iter").mkdirs()
    assert(victim.renameTo(
      new java.io.File(s"$d/_backup/click_iter/${victim.getName}")))
    val impostor = new java.io.File(
      s"$d/click_iter/part-00000-deadbeef_${"%05d".format(k)}.c000.snappy.parquet")
    java.nio.file.Files.writeString(impostor.toPath, "not parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_meta/pending.json"),
      s"""{"batchId":"deadbeef","subs":{"click_iter":[{"bkt":$k,"hadBase":true}]}}""")
    GraphArtifact.recover(spark, d)
    assert(!new java.io.File(s"$d/_meta/pending.json").exists())
    assert(!new java.io.File(s"$d/_backup").exists())
    assert(!impostor.exists(), "the staged-in impostor must be dropped")
    val recovered = spark.read.parquet(s"$d/click_iter")
      .collect().map(_.toSeq).toSet
    assert(recovered === original)
    // the OTHER window — crash BEFORE the backup rename (no backup file
    // for the bucket) — must leave the live base file untouched
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_meta/pending.json"),
      s"""{"batchId":"cafebabe","subs":{"click_iter":[{"bkt":$k,"hadBase":true}]}}""")
    GraphArtifact.recover(spark, d)
    assert(spark.read.parquet(s"$d/click_iter")
      .collect().map(_.toSeq).toSet === original)
  }
}
