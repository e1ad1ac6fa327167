package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{Engine, TableSpec, TypeWidening, WriteSpec}
import java.nio.file.Files

/** Reference-parity round-trips: mirrors the shape of the reference's
  * InputTest/OutputTest/TypeUpgradeTest/BeanInputTest/
  * CheckOutputSpecsTest (hive-io-exp-core src/test) with a parquet
  * warehouse + SparkSession replacing LocalHiveServer. */
class EngineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft-wh").toString)

  // A1: basic 2-column round-trip (InputTest.testInput / OutputTest)
  test("unpartitioned write→read round-trip") {
    val e = freshEngine()
    val spec = TableSpec("t1")
    e.write(spec, Seq((1, 1.1), (2, 2.2)).toDF("i1", "d1"))
    val back = e.read(spec).orderBy("i1").as[(Int, Double)].collect()
    assert(back.toSeq === Seq((1, 1.1), (2, 2.2)))
  }

  // reference: unpartitioned table must be empty (HiveApiOutputFormat:332-347)
  test("second write into unpartitioned table fails") {
    val e = freshEngine()
    val spec = TableSpec("t1")
    e.write(spec, Seq((1, 1.1)).toDF("i1", "d1"))
    intercept[Exception] { e.write(spec, Seq((2, 2.2)).toDF("i1", "d1")) }
  }

  // A1 partitioned variant (InputTest.testInputWithPartitions,
  // OutputTest partitioned + drop_partition)
  test("partitioned write→read with partition pruning and drop-partition") {
    val e = freshEngine()
    val spec = TableSpec("tp")
    e.write(spec, Seq((1, 1.1), (2, 2.2)).toDF("i1", "d1"),
      WriteSpec(Map("ds" -> "2026-01-01")))
    e.write(spec, Seq((3, 3.3)).toDF("i1", "d1"),
      WriteSpec(Map("ds" -> "2026-01-02")))

    // full read sees both partitions, partition col materialized
    assert(e.read(spec).count() === 3)
    // pruned read
    val pruned = e.read(spec.copy(partitionFilter = Some(col("ds") === "2026-01-02")))
    assert(pruned.select("i1").as[Int].collect().toSeq === Seq(3))

    // existing partition: error without drop, overwrite with drop
    intercept[IllegalArgumentException] {
      e.write(spec, Seq((9, 9.9)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "2026-01-02")))
    }
    e.write(spec, Seq((4, 4.4)).toDF("i1", "d1"),
      WriteSpec(Map("ds" -> "2026-01-02"), dropExistingPartition = true))
    assert(e.read(spec).count() === 3)
    assert(e.read(spec.copy(partitionFilter = Some(col("ds") === "2026-01-02")))
      .select("i1").as[Int].collect().toSeq === Seq(4))
  }

  test("mergeSchema read unions evolved partition schemas, null-filling old rows") {
    val e = freshEngine()
    val spec = TableSpec("tevo")
    e.write(spec, Seq((1, 1.1)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "a")))
    // fixed-schema contract: a new column is rejected unless opted in
    intercept[IllegalArgumentException] {
      e.write(spec, Seq((2, 2.2, "x")).toDF("i1", "d1", "s1"), WriteSpec(Map("ds" -> "b")))
    }
    e.write(spec, Seq((2, 2.2, "x")).toDF("i1", "d1", "s1"),
      WriteSpec(Map("ds" -> "b"), allowNewColumns = true))
    // default read trusts a single footer — s1 may be absent
    val merged = e.read(spec.copy(mergeSchema = true))
    assert(merged.columns.toSet === Set("i1", "d1", "s1", "ds"))
    val rows = merged.select("i1", "s1").as[(Int, Option[String])]
      .collect().toMap
    assert(rows === Map(1 -> None, 2 -> Some("x")),
      "old partition null-fills the new column")

    // post-evolution the merged schema is authoritative: a strict write
    // omitting s1 fails DETERMINISTICALLY (not by file-listing luck)...
    val e2 = intercept[IllegalArgumentException] {
      e.write(spec, Seq((3, 3.3)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "c")))
    }
    assert(e2.getMessage.contains("s1"))
    // ...while an evolution-mode writer may still omit later columns
    e.write(spec, Seq((3, 3.3)).toDF("i1", "d1"),
      WriteSpec(Map("ds" -> "c"), allowNewColumns = true))
    assert(e.read(spec.copy(mergeSchema = true)).count() === 3)

    // a data column colliding with the partition column is rejected even
    // in evolution mode (it would conflict with partition discovery)
    val e3 = intercept[IllegalArgumentException] {
      e.write(spec, Seq((4, "d")).toDF("i1", "ds"),
        WriteSpec(Map("ds" -> "d"), allowNewColumns = true))
    }
    assert(e3.getMessage.contains("partition"))
  }

  // sanityCheck parity (HiveApiOutputFormat.java:203-212, 296-320)
  test("partition-spec arity preconditions") {
    val e = freshEngine()
    val spec = TableSpec("tp2")
    e.write(spec, Seq((1, 1.1)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "a")))
    // partitioned table: write without partition values fails
    intercept[IllegalArgumentException] { e.write(spec, Seq((2, 2.2)).toDF("i1", "d1")) }
    // wrong partition key name fails
    intercept[IllegalArgumentException] {
      e.write(spec, Seq((2, 2.2)).toDF("i1", "d1"), WriteSpec(Map("dt" -> "b")))
    }
    // unpartitioned table: partition values fail
    val spec2 = TableSpec("tu")
    e.write(spec2, Seq((1, 1.1)).toDF("i1", "d1"))
    intercept[IllegalArgumentException] {
      e.write(spec2, Seq((2, 2.2)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "a")))
    }
  }

  test("_SUCCESS marker written on commit") {
    val e = freshEngine()
    e.write(TableSpec("tm"), Seq((1, 1.1)).toDF("i1", "d1"))
    val wh = e.read(TableSpec("tm")).inputFiles.head
    val dir = new java.io.File(new java.net.URI(wh)).getParentFile
    assert(new java.io.File(dir, "_SUCCESS").exists())
  }

  // A4: bean mapping (BeanInputTest.java:66-110) — 7-primitive case class
  test("readAs maps columns to case-class fields by name") {
    val e = freshEngine()
    val spec = TableSpec("tb")
    e.write(spec, Seq(
      (true, 1.toByte, 2.toShort, 3, 4L, 5.5f, 6.6),
      (false, 7.toByte, 8.toShort, 9, 10L, 11.11f, 12.12)
    ).toDF("bo1", "by1", "s1", "i1", "l1", "f1", "d1"))
    val rows = e.readAs[Row7](spec).collect().sortBy(_.i1)
    assert(rows(0) === Row7(true, 1, 2, 3, 4L, 5.5f, 6.6))
    assert(rows(1) === Row7(false, 7, 8, 9, 10L, 11.11f, 12.12))
  }

  test("column projection in spec limits read schema") {
    val e = freshEngine()
    val spec = TableSpec("tc")
    e.write(spec, Seq((1, 1.1, "x")).toDF("i1", "d1", "s1"))
    val df = e.read(spec.copy(columns = Seq("s1", "i1")))
    assert(df.schema.fieldNames.toSeq === Seq("s1", "i1"))
  }

  test("stats returns row count and positive byte size") {
    val e = freshEngine()
    e.write(TableSpec("ts"), Seq((1, 1.1), (2, 2.2), (3, 3.3)).toDF("i1", "d1"))
    val (rows, bytes) = e.stats(TableSpec("ts"))
    assert(rows === 3); assert(bytes > 0)
  }

  test("tail returns bounded ordered sample") {
    val e = freshEngine()
    e.write(TableSpec("tt"), (1 to 100).map(i => (i, s"r$i")).toDF("i1", "s1"))
    val got = e.tail(TableSpec("tt"), 5, Some("i1"))
    assert(got.length === 5)
    assert(got.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 4, 5))
  }

  // TypeUpgradeTest parity (output/TypeUpgradeTest.java:60-200)
  test("widening-only write assignment: widen ok, downgrade throws") {
    assert(TypeWidening.canWiden(IntegerType, LongType))
    assert(TypeWidening.canWiden(ByteType, DoubleType))
    assert(TypeWidening.canWiden(FloatType, DoubleType))
    assert(!TypeWidening.canWiden(LongType, IntegerType))
    assert(!TypeWidening.canWiden(DoubleType, FloatType))
    assert(!TypeWidening.canWiden(StringType, LongType))

    val e = freshEngine()
    val spec = TableSpec("tw")
    e.write(spec, Seq((1L, 1.1)).toDF("l1", "d1"))
    // int widens into long column; table read back still long-typed
    e.write(spec.copy(table = "tw2"), Seq((5, 5.5)).toDF("l1", "d1"))
    val widened = TypeWidening.widenTo(Seq((5, 5.5f)).toDF("l1", "d1"),
      StructType(Seq(StructField("l1", LongType), StructField("d1", DoubleType))))
    assert(widened.schema("l1").dataType === LongType)
    assert(widened.schema("d1").dataType === DoubleType)
    // downgrade double -> float throws
    intercept[IllegalArgumentException] {
      TypeWidening.widenTo(Seq((1L, 2.2)).toDF("l1", "d1"),
        StructType(Seq(StructField("l1", LongType), StructField("d1", FloatType))))
    }
  }

  // reference InputTest.checkGets exercises ARRAY<BIGINT> and
  // MAP<STRING,FLOAT> end-to-end (hive-io-exp-core src/test/java/com/
  // facebook/hiveio/input/InputTest.java:100-190); SURVEY §1.2 maps
  // LIST/MAP/STRUCT. Parquet + Catalyst carry all three natively.
  test("complex types round-trip: ARRAY<BIGINT>, MAP<STRING,FLOAT>, STRUCT") {
    val e = freshEngine()
    val spec = TableSpec("tcplx")
    val df = Seq(
      ComplexRow(1L, Seq(1L, 2L, 3L), Map("a" -> 1.0f, "b" -> 2.5f), Inner("x", 7)),
      ComplexRow(2L, Seq.empty, Map.empty, Inner("y", 8))).toDS().toDF()
    e.write(spec, df)

    val back = e.read(spec)
    assert(back.schema("arr").dataType === ArrayType(LongType))
    assert(back.schema("m").dataType === MapType(StringType, FloatType))
    assert(back.schema("st").dataType.isInstanceOf[StructType])
    // typed read (bean path) preserves element values
    val rows = e.readAs[ComplexRow](spec).collect().sortBy(_.id)
    assert(rows(0) === ComplexRow(1L, Seq(1L, 2L, 3L), Map("a" -> 1.0f, "b" -> 2.5f), Inner("x", 7)))
    assert(rows(1) === ComplexRow(2L, Seq.empty, Map.empty, Inner("y", 8)))
    // and the untyped path can compute over them
    assert(back.select(sum(size(col("arr")))).as[Long].head() === 3L)
  }

  // SURVEY §1.2's last unmapped type: UNIONTYPE (reference
  // common/HiveType.java:219) as struct-of-(tag, nullable slot per
  // member) — exactly one slot set, tag selects it
  test("UNION type round-trip: UNIONTYPE<BIGINT, STRING> via tagged struct") {
    import graft.api.UnionType
    val e = freshEngine()
    val spec = TableSpec("tunion")
    val members = Seq(LongType, StringType)
    val df = Seq((1L, Some(42L), None: Option[String]),
        (2L, None: Option[Long], Some("hi")))
      .toDF("id", "as_long", "as_str")
      .select(col("id"),
        when(col("as_long").isNotNull,
          UnionType.create(0, col("as_long"), members: _*))
          .otherwise(UnionType.create(1, col("as_str"), members: _*))
          .as("u"))
    e.write(spec, df)

    val back = e.read(spec)
    // schema round-trips as the documented tagged struct
    assert(back.schema("u").dataType.asInstanceOf[StructType].fieldNames
      === Array("tag", "u0", "u1"))
    assert(UnionType.schema(members: _*).fieldNames === Array("tag", "u0", "u1"))
    // tag selects the populated slot; the other slot is NULL
    val rows = back.select(col("id"), UnionType.tagOf(col("u")).as("tag"),
        UnionType.extract(col("u"), 0).as("v0"),
        UnionType.extract(col("u"), 1).as("v1"))
      .orderBy("id").collect()
    assert(rows(0).getInt(1) === 0 && rows(0).getLong(2) === 42L && rows(0).isNullAt(3))
    assert(rows(1).getInt(1) === 1 && rows(1).isNullAt(2) && rows(1).getString(3) === "hi")
    // predicate on the tag + single-member projection (the columnar win)
    assert(back.filter(UnionType.isTag(col("u"), 1)).count() === 1L)
    // out-of-range tag fails fast
    intercept[IllegalArgumentException] {
      UnionType.create(2, lit(1L), members: _*)
    }
  }

  // cmdline writer demo parity (reference output/OutputCmd.java:98-186):
  // N writer tasks under one job commit, file-per-task-commit ledger
  test("Output CLI: per-task commit ledger and partitioned demo write") {
    val wh = Files.createTempDirectory("graft-outcli").toString
    val s = Output.run(spark, wh, tasks = 3, partitioned = false)
    assert(s.jobCommitted, "job commit must leave _SUCCESS")
    assert(s.tasks.size === 3, s"one committed file per task: ${s.tasks}")
    assert(s.tasks.forall(_.bytes > 0))
    assert(s.rowsWritten === 6 && s.rowsReadBack === 6)
    // the reference's partitioned demo variant writes into ds=2013-04-01
    val p = Output.run(spark, wh, tasks = 2, partitioned = true)
    assert(p.jobCommitted && p.tasks.size === 2 && p.rowsReadBack === 4)
    // demo payload is the reference's fixed records (OutputCmd.java:167-178)
    val vals = new Engine(spark, wh).read(TableSpec("output_test"))
      .orderBy("i1", "s4").distinct().as[(Long, Double, Boolean, String)]
      .collect().toSeq
    assert(vals === Seq((11L, 22.22, true, "foo"), (33L, 44.44, false, "bar")))
  }

  // multi-profile parity: the reference reads several distinct table
  // descriptions in one job via profile ids (HiveApiInputFormat.java:
  // 145-172; README.md:152-158 — the Giraph vertex+edge case). The Spark
  // analog: two TableSpecs read in one session and consumed by ONE job.
  test("multi-profile: two table specs consumed in a single job") {
    val e = freshEngine()
    e.write(TableSpec("vertices"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "vlabel"))
    e.write(TableSpec("edges"),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst"))
    val v = e.read(TableSpec("vertices"))
    val edges = e.read(TableSpec("edges"))
    // one action spanning both "profiles": per-vertex out-degree join
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .join(v, col("src") === col("id"))
      .select("vlabel", "outdeg")
      .orderBy("vlabel")
      .as[(String, Long)].collect()
    assert(deg.toSeq === Seq(("a", 2L), ("b", 1L), ("c", 1L)))
  }

  // dynamic partition overwrite: the bulk-backfill shape (untouched
  // partitions survive; only partitions present in the new data change)
  test("writePartitioned replaces only the partitions present in the data") {
    val e = freshEngine()
    val spec = TableSpec("tdyn")
    e.writePartitioned(spec,
      Seq((1, "2026-01-01"), (2, "2026-01-01"), (3, "2026-01-02")).toDF("i1", "ds"),
      Seq("ds"))
    assert(e.read(spec).count() === 3)
    // re-run of day 2 only: day 1 must survive, day 2 replaced
    e.writePartitioned(spec,
      Seq((30, "2026-01-02"), (31, "2026-01-02")).toDF("i1", "ds"),
      Seq("ds"), overwrite = true)
    val back = e.read(spec).orderBy("i1").select("i1").as[Int].collect()
    assert(back.toSeq === Seq(1, 2, 30, 31))
    // wrong partition-column arity is refused (reference sanityCheck spirit)
    intercept[IllegalArgumentException] {
      e.writePartitioned(spec, Seq((9, "x", "y")).toDF("i1", "ds", "extra"),
        Seq("ds", "extra"), overwrite = true)
    }
    // non-overwrite into an existing table errors
    intercept[Exception] {
      e.writePartitioned(spec, Seq((7, "2026-01-03")).toDF("i1", "ds"), Seq("ds"))
    }
  }

  // S17 storage-format plug-in: same Engine surface over other formats
  test("format plug-in: orc and json round-trip through the same API") {
    val e = freshEngine()
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    for (fmt <- Seq("orc", "json")) {
      val spec = TableSpec(s"tfmt_$fmt", format = fmt)
      e.write(spec, df)
      val back = e.read(spec).orderBy("id")
        .select("id", "name", "score").as[(Long, String, Double)].collect()
      assert(back.toSeq === Seq((1L, "a", 1.5), (2L, "b", 2.5)), fmt)
    }
    // partitioned write + pruning works for non-parquet formats too
    val pspec = TableSpec("tfmt_part", format = "orc")
    e.write(pspec, df, WriteSpec(Map("ds" -> "d1")))
    e.write(pspec, df, WriteSpec(Map("ds" -> "d2")))
    val pruned = e.read(pspec.copy(partitionFilter = Some(col("ds") === "d2")))
    assert(pruned.count() === 2)
  }

  test("nulls round-trip through write and widen") {
    val e = freshEngine()
    val spec = TableSpec("tn")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1, null),
        org.apache.spark.sql.Row(null, 2.2))),
      StructType(Seq(StructField("i1", IntegerType), StructField("d1", DoubleType))))
    e.write(spec, df)
    val back = e.read(spec).orderBy(col("i1").asc_nulls_last).collect()
    assert(back(0).getInt(0) === 1); assert(back(0).isNullAt(1))
    assert(back(1).isNullAt(0)); assert(back(1).getDouble(1) === 2.2)
  }

  test("compact recovers a crashed swap and rejects partitioned tables") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val e = new Engine(spark, wh)
    val spec = TableSpec("tcrash")
    e.write(spec, spark.range(0, 100).toDF("i1").repartition(4))
    // simulate a crash between the two swap renames: table dir moved
    // aside, swap never completed
    val p = java.nio.file.Paths.get(s"$wh/default/tcrash")
    Files.move(p, java.nio.file.Paths.get(s"$wh/default/tcrash.compact-old"))
    val (_, after) = e.compact(spec)
    assert(after === 1)
    assert(e.read(spec).count() === 100, "recovery must restore the full table")
    // partitioned tables are rejected (a coalesce rewrite would flatten them)
    val ps = TableSpec("tpartd")
    e.write(ps, Seq((1, 1.0)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "2026-01-01")))
    intercept[IllegalArgumentException] { e.compact(ps) }
  }

  test("optimize with zorderBy clusters the table in both dimensions") {
    val e = freshEngine()
    val spec = TableSpec("topt")
    val df = spark.range(0, 4096)
      .select((col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
      .repartition(32)
    e.write(spec, df)
    // target ~16 files so the z-curve forms a ~4x4 grid over (a, b)
    val bytesPerFile = {
      val total = e.stats(spec)._2
      math.max(1L, total / 16)
    }
    val (before, after) = e.optimize(spec, zorderBy = Seq("a", "b"), targetBytes = bytesPerFile)
    assert(before === 32)
    assert(after > 1, "should produce multiple z-ordered files")
    assert(e.read(spec).count() === 4096, "content preserved")
    // every file must span less than the full range of BOTH columns
    val spans = e.read(spec)
      .withColumn("__f", input_file_name())
      .groupBy("__f")
      .agg((max(col("a")) - min(col("a"))).as("sa"), (max(col("b")) - min(col("b"))).as("sb"))
      .collect()
    assert(spans.forall(r => r.getLong(1) < 63 && r.getLong(2) < 63),
      "each z-ordered file must cover a strict sub-range of both dimensions")
  }

  test("optimize with zorderBy degrades to compaction on an empty table") {
    val e = freshEngine()
    val spec = TableSpec("tempty")
    e.write(spec, spark.range(0, 10).toDF("a")
      .withColumn("b", col("a") * 2).filter(col("a") < 0))
    val (_, after) = e.optimize(spec, zorderBy = Seq("a", "b"))
    assert(after <= 1)
    assert(e.read(spec).count() === 0)
  }

  /** One table of every shape the spec writes, in one warehouse. */
  private def shapes(): (String, Engine, Seq[TableSpec]) = {
    val wh = Files.createTempDirectory("graft-wh").toString
    val e = new Engine(spark, wh)
    val part = TableSpec("s_part")
    e.write(part, Seq((1, 1.1), (2, 2.2)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "a")))
    e.write(part, Seq((3, 3.3)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "b")))
    val flat = TableSpec("s_flat")
    e.write(flat, Seq((1, 1.1, "x"), (2, 2.2, "y")).toDF("i1", "d1", "s1"))
    val cplx = TableSpec("s_cplx")
    e.write(cplx, Seq(
      ComplexRow(1L, Seq(1L, 2L), Map("a" -> 1.0f), Inner("x", 7)),
      ComplexRow(2L, Seq.empty, Map.empty, Inner("y", 8))).toDS().toDF())
    val union = TableSpec("s_union")
    e.write(union, Seq((1L, 42L)).toDF("id", "v").select(col("id"),
      graft.api.UnionType.create(0, col("v"), LongType, StringType).as("u")))
    val nulls = TableSpec("s_nulls")
    e.write(nulls, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1, null), org.apache.spark.sql.Row(null, 2.2))),
      StructType(Seq(StructField("i1", IntegerType), StructField("d1", DoubleType)))))
    val empty = TableSpec("s_empty")
    e.write(empty, spark.range(0, 10).toDF("a").filter(col("a") < 0))
    val frag = TableSpec("s_frag")
    e.write(frag, spark.range(0, 1000).toDF("i1").repartition(16))
    val evo = TableSpec("s_evo")
    e.write(evo, Seq((1, 1.1)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "a")))
    e.write(evo, Seq((2, 2.2, "x")).toDF("i1", "d1", "s1"),
      WriteSpec(Map("ds" -> "b"), allowNewColumns = true))
    (wh, e, Seq(part, flat, cplx, union, nulls, empty, frag, evo))
  }

  private def assertShapeMatchesSpark(wh: String, e: Engine, spec: TableSpec): Unit = {
    val p = s"$wh/${spec.database}/${spec.table}"
    assert(e.read(spec).schema === spark.read.parquet(p).schema, spec.table)
    assert(e.stats(spec)._1 === spark.read.parquet(p).count(), spec.table)
  }

  test("footer schema and row count equal Spark's inference and count()") {
    val (wh, e, specs) = shapes()
    val frag = Files.list(java.nio.file.Paths.get(wh, "default", "s_frag"))
    try assert(frag.filter(_.getFileName.toString.endsWith(".parquet")).count() >= 16)
    finally frag.close()
    specs.foreach(assertShapeMatchesSpark(wh, e, _))
    // the evolved table's first file in path order lacks s1, as Spark's does
    assert(!e.read(TableSpec("s_evo")).columns.contains("s1"))
  }

  test("above the driver-listing cutoff read and stats take Spark's path") {
    val (wh, e, specs) = shapes()
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "1")
    try specs.foreach(assertShapeMatchesSpark(wh, e, _))
    finally spark.conf.unset(key)
  }

  test("a parquet summary file keeps Spark's schema inference") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val e = new Engine(spark, wh)
    e.write(TableSpec("wide"), Seq((1, 1.1, "x")).toDF("i1", "d1", "s1"))
    val narrow = TableSpec("narrow")
    e.write(narrow, Seq((2, 2.2), (3, 3.3)).toDF("i1", "d1"))
    // any parquet file serves as a summary: Spark's inference prefers
    // `_common_metadata` over the data files, and the scan skips it
    val wideFile = Files.list(java.nio.file.Paths.get(wh, "default", "wide"))
    val src = try wideFile.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      finally wideFile.close()
    Files.copy(src, java.nio.file.Paths.get(wh, "default", "narrow", "_common_metadata"))
    assert(spark.read.parquet(s"$wh/default/narrow").columns.contains("s1"))
    assertShapeMatchesSpark(wh, e, narrow)
  }

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a marker job started after `body` has been seen,
    * every job `body` started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val descs = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        descs.put(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription("jobsDuring-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      var n = 0
      var d = descs.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (d != null && d != "jobsDuring-marker") {
        n += 1; d = descs.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(d != null, "marker job never reached the listener")
      n
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("read and stats of a small parquet table start no Spark job") {
    val e = freshEngine()
    val spec = TableSpec("tjobs")
    e.write(spec, Seq((1, 1.1), (2, 2.2)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "a")))
    e.write(spec, Seq((3, 3.3)).toDF("i1", "d1"), WriteSpec(Map("ds" -> "b")))
    var rows = 0L
    assert(jobsDuring { e.read(spec); rows = e.stats(spec)._1 } === 0)
    assert(rows === 3)
    // the listener does see jobs: a schema-merging read still infers in one
    assert(jobsDuring { e.read(spec.copy(mergeSchema = true)) } > 0)
  }

  test("compact merges fragmented files without changing content") {
    val e = freshEngine()
    val spec = TableSpec("tfrag")
    // 16-way write fragments the table the way micro-batch appends do
    e.write(spec, spark.range(0, 1000).toDF("i1").repartition(16))
    val expected = e.read(spec).as[Long].collect().sorted.toSeq
    val (before, after) = e.compact(spec)
    assert(before >= 16)
    assert(after === 1, "1000 longs fit one 128MB-target file")
    val back = e.read(spec).as[Long].collect().sorted.toSeq
    assert(back === expected, "compaction must be byte-content-preserving")
  }
}

case class Row7(bo1: Boolean, by1: Byte, s1: Short, i1: Int, l1: Long, f1: Float, d1: Double)

case class Inner(name: String, n: Int)
case class ComplexRow(id: Long, arr: Seq[Long], m: Map[String, Float], st: Inner)
