package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{AnnIndex, Similarity}

/** Persisted ANN index lifecycle (llm/AnnIndex): the on-disk index must
  * reproduce the in-memory IVF-PQ results exactly, and the serving
  * lookup must prove static partition pruning over the cell layout. */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("annindex").toString
    AnnIndex.build(Tables.t(spark, sf, "embeddings"), d)
    d
  }

  test("batch topK over the persisted index equals in-memory ivfPqTopK") {
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val fromIndex = AnnIndex.topK(queries, dir, k = 10)
      .select("query_id", "neighbor_id", "adist", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val inMemory = Similarity.ivfPqTopK(queries, emb, k = 10)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("adist"), col("rk"))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(fromIndex === inMemory)
  }

  test("index layout: codes partitioned by cell, no vectors materialized") {
    val idx = spark.read.parquet(s"$dir/index")
    assert(idx.columns.sorted.toSeq === Seq("cell", "codes", "id"))
    val cellDirs = new java.io.File(s"$dir/index").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "index must be laid out as cell= partitions")
    // index carries PQ codes (m small ints), never the original vectors
    assert(!idx.schema("codes").dataType.simpleString.contains("double"))
  }

  test("serving lookup statically prunes to the probed cell partitions") {
    val q = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val res = AnnIndex.lookup(spark, dir, q, k = 5, nprobe = 4)
    val rows = res.collect()
    assert(rows.length === 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe cells must prune partitions statically:\n${plan.take(800)}")
    // scores agree with the batch path for the same vector
    val viaBatch = AnnIndex.topK(
      Tables.t(spark, sf, "embeddings").filter(col("vec_id") === 7), dir, k = 5)
      .select("neighbor_id", "adist").as[(Long, Double)].collect().toMap
    rows.foreach { r =>
      val n = r.getAs[Long]("neighbor_id")
      // the batch path excludes self-matches; the raw lookup may include it
      if (viaBatch.contains(n))
        assert(viaBatch(n) === r.getAs[Double]("adist"))
    }
  }

  test("two concurrent appenders: the loser fails fast, the index untouched") {
    val emb = Tables.t(spark, sf, "embeddings")
    val d = java.nio.file.Files.createTempDirectory("ann-lease").toString
    AnnIndex.build(emb.filter(col("vec_id") < 350), d)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$d/_writer.lease")
    def snap: Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(s"$d/index")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    }
    val batch = emb.filter(col("vec_id") >= 350)
    // a LIVE appender from another session holds the lease
    graft.common.WriterLease.acquire(fs, lease, owner = "other-pid@elsewhere")
    val before = snap
    val ex = intercept[IllegalStateException] { AnnIndex.append(batch, d) }
    assert(ex.getMessage.contains("writer lease"))
    assert(snap === before, "a fenced-out appender must not touch the index")
    assert(fs.exists(lease), "the loser must not release the holder's lease")
    graft.common.WriterLease.release(fs, lease)
    // the retried append proceeds, releases its lease, and lands the
    // same state a rebuild would
    AnnIndex.append(batch, d)
    assert(!fs.exists(lease))
    val full = java.nio.file.Files.createTempDirectory("ann-lease-full").toString
    AnnIndex.build(emb, full)
    def rows(p: String) = spark.read.parquet(s"$p/index")
      .select(col("id"), col("cell"), col("codes").cast("array<int>"))
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rows(d) === rows(full))
    // a crashed holder's stale lease (expired TTL) is reclaimed
    graft.common.WriterLease.acquire(fs, lease, owner = "dead@elsewhere", ttlMs = -1)
    AnnIndex.append(batch.limit(0), d) // empty batch still walks the lease path
    assert(!fs.exists(lease))
  }

  test("append leaves the session conf as it found it") {
    val emb = Tables.t(spark, sf, "embeddings")
    val d = java.nio.file.Files.createTempDirectory("ann-conf").toString
    AnnIndex.build(emb.filter(col("vec_id") < 350), d)
    val before = spark.conf.getAll
    AnnIndex.append(emb.filter(col("vec_id") >= 350), d)
    assert(spark.conf.getAll === before)
  }

  test("append under the frozen model equals a full rebuild with that model") {
    val emb = Tables.t(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") < 350)
    val batch = emb.filter(col("vec_id") >= 350)
    // the model is first-N by id, and base contains ids 0..349 ⊇ first 16,
    // so build(base) and build(all) freeze the IDENTICAL model
    val incDir = java.nio.file.Files.createTempDirectory("ann-inc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("ann-full").toString
    AnnIndex.build(base, incDir)
    AnnIndex.append(batch, incDir)
    AnnIndex.build(emb, fullDir)
    def rows(d: String) = spark.read.parquet(s"$d/index")
      .select(col("id"), col("cell"), col("codes").cast("array<int>"))
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rows(incDir) === rows(fullDir))
    // and the serving path agrees end to end
    val queries = emb.filter(col("vec_id") < 3)
    def served(d: String) = AnnIndex.topK(queries, d, k = 8)
      .select("query_id", "neighbor_id", "adist", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served(incDir) === served(fullDir))
    // idempotence: re-appending the same batch changes nothing
    AnnIndex.append(batch, incDir)
    assert(rows(incDir) === rows(fullDir))
    assert(!new java.io.File(s"$incDir/index.staging").exists())
  }

  test("append rewrites ONLY the touched cell partitions") {
    val emb = Tables.t(spark, sf, "embeddings")
    val d = java.nio.file.Files.createTempDirectory("ann-local").toString
    AnnIndex.build(emb, d)
    def snap: Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(s"$d/index")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => (base.relativize(p).toString,
          (java.nio.file.Files.getLastModifiedTime(p).toMillis,
            java.nio.file.Files.size(p))))
        .toMap
    }
    val before = snap
    val baseCount = spark.read.parquet(s"$d/index").count()
    // a new id carrying vector 0's embedding assigns (frozen model,
    // same arithmetic as build) to exactly vector 0's cell
    val cellOf0 = spark.read.parquet(s"$d/index")
      .where(col("id") === 0L).select("cell").as[Int].head()
    val batch = emb.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("embedding"))
    AnnIndex.append(batch, d)
    val after = snap
    val changedCells = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .flatMap(_.split('/').find(_.startsWith("cell=")))
    assert(changedCells === Set(s"cell=$cellOf0"))
    assert(before.keySet.flatMap(_.split('/').find(_.startsWith("cell=")))
      .size > 4, "locality claim needs several cells to exist")
    val idx = spark.read.parquet(s"$d/index")
    assert(idx.count() === baseCount + 1)
    assert(idx.where(col("id") === 99999L).select("cell").as[Int].head()
      === cellOf0)
    // an EMPTY append is a complete no-op: no file churn at all
    val preEmpty = snap
    AnnIndex.append(
      Tables.t(spark, sf, "embeddings").where(lit(false)), d)
    assert(snap === preEmpty)
  }

  test("crash between overwrite and sweep: readers refuse, retry converges") {
    val emb = Tables.t(spark, sf, "embeddings")
    val d = java.nio.file.Files.createTempDirectory("ann-crash").toString
    AnnIndex.build(emb, d)
    // craft the worst window's precondition: the batch re-ingests EVERY
    // id of the smallest cell with a vector that moves them all to a
    // different cell, so after the overwrite (and before the sweep) the
    // old cell holds only stale duplicates and is due for deletion
    val loneCell = spark.read.parquet(s"$d/index")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n"), col("cell")).select("cell").as[Int].head()
    val movedIds = spark.read.parquet(s"$d/index")
      .where(col("cell") === loneCell).select("id").as[Long].collect().toSeq
    val donor = spark.read.parquet(s"$d/index")
      .where(col("cell") =!= loneCell).select("id").as[Long].head()
    val donorVec = emb.where(col("vec_id") === donor).select("embedding")
    val batch = movedIds.toDF("vec_id").crossJoin(donorVec)
    AnnIndex.injectCrashAfterOverwrite = true
    try intercept[IllegalStateException] { AnnIndex.append(batch, d) }
    finally AnnIndex.injectCrashAfterOverwrite = false
    // torn state on disk: marker present, stale old-cell dir survives
    assert(new java.io.File(s"$d/_append_pending.json").exists())
    assert(new java.io.File(s"$d/index/cell=$loneCell").exists())
    // every read path fails loudly instead of serving the stale dup
    val q = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head().toArray
    Seq(
      intercept[IllegalStateException] { AnnIndex.lookup(spark, d, q, k = 3) },
      intercept[IllegalStateException] { AnnIndex.topK(emb.limit(1), d, k = 3) },
      intercept[IllegalStateException] { AnnIndex.drift(spark, d) }
    ).foreach(ex => assert(ex.getMessage.contains("uncommitted append")))
    // the documented repair: re-run the SAME append — it must converge
    // to exactly what the UNinterrupted append produces on a twin index
    // (same corpus, same frozen model)
    AnnIndex.append(batch, d)
    assert(!new java.io.File(s"$d/_append_pending.json").exists())
    assert(!new java.io.File(s"$d/index/cell=$loneCell").exists(),
      "the emptied cell's stale directory must be swept on retry")
    val idx = spark.read.parquet(s"$d/index")
    movedIds.foreach { id =>
      assert(idx.where(col("id") === id).count() === 1,
        s"superseded id $id must appear exactly once after repair")
    }
    val twin = java.nio.file.Files.createTempDirectory("ann-crash-twin").toString
    AnnIndex.build(emb, twin)
    AnnIndex.append(batch, twin)
    def rows(p: String) = spark.read.parquet(s"$p/index")
      .select(col("id"), col("cell"), col("codes").cast("array<int>"))
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rows(d) === rows(twin))
  }

  test("crash BEFORE the overwrite (marker only): readers refuse, append clears") {
    val emb = Tables.t(spark, sf, "embeddings")
    val d = java.nio.file.Files.createTempDirectory("ann-crash-pre").toString
    AnnIndex.build(emb, d)
    // the earliest window: marker written, overwrite never started —
    // the index is actually intact, but a reader cannot know that
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/_append_pending.json"), """{"touched":[0]}""")
    val ex = intercept[IllegalStateException] { AnnIndex.drift(spark, d) }
    assert(ex.getMessage.contains("uncommitted append"))
    // the retried append (here: any idempotent batch) repairs the window
    AnnIndex.append(emb.filter(col("vec_id") < 3), d)
    assert(!new java.io.File(s"$d/_append_pending.json").exists())
    assert(AnnIndex.drift(spark, d).count() > 0)
  }

  test("drift guard: balanced append stays quiet, skewed append trips retrain") {
    val emb = Tables.t(spark, sf, "embeddings")
    val d = java.nio.file.Files.createTempDirectory("ann-drift").toString
    AnnIndex.build(emb.filter(col("vec_id") < 350), d)
    // balanced growth: the remaining fixture vectors follow the same
    // distribution the model was built on
    AnnIndex.append(emb.filter(col("vec_id") >= 350), d)
    assert(!AnnIndex.recommendRetrain(spark, d),
      "same-distribution growth must not recommend retrain")
    // skewed growth: clone one vector many times — its cell's share
    // balloons past any reasonable threshold
    val one = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(
        spark.range(600, 1400).select(col("id").as("vec_id")))
    AnnIndex.append(one, d)
    assert(AnnIndex.recommendRetrain(spark, d),
      "cell-concentrated growth must recommend retrain")
    val report = AnnIndex.drift(spark, d)
    assert(report.columns.toSeq === Seq("cell", "n_build", "n_now",
      "share_build6", "share_now6", "drift6", "retrain"))
    assert(report.filter(col("retrain")).count() >= 1)
  }
}
