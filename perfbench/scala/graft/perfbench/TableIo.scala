package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.{Engine, TableSpec, WriteSpec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The typed shape `read_typed` maps rows onto. */
final case class LineTyped(l_orderkey: Long, l_partkey: Long,
                           l_quantity: Double, l_extendedprice: Double,
                           l_returnflag: String)

/** `table-io`: the reference's own surface, writes beside reads, through
  * `api.Engine`. Set-up writes a warehouse from `copies` key-offset copies
  * of the fixture lineitem: one copy partitioned by ship year through
  * `writePartitioned`, one unpartitioned and compacted. Every write op
  * rewrites rows the table already holds, so table content never changes
  * and every op's output is checked against hashes of the source frame. */
final class TableIo(plan: JsonNode, fixture: String, work: String) extends Workload {
  private val copies = plan.get("copies").asInt()
  private val ops = plan.get("ops").elements().asScala.toSeq
  private val Year = TableSpec("lineitem_by_year")
  private val Flat = TableSpec("lineitem_flat")
  private val ScanCols = Seq("l_orderkey", "l_partkey", "l_quantity")

  private var engine: Engine = _
  private var warehouse: String = _
  private var src: DataFrame = _
  private var dataCols: Seq[String] = Nil
  private var targetBytes = 0L

  private def source(spark: SparkSession): DataFrame = {
    val li = spark.read.parquet(s"$fixture/lineitem.parquet")
    val offset = li.agg(max("l_orderkey")).head().getLong(0) + 1
    (0 until copies)
      .map(c => li.withColumn("l_orderkey", col("l_orderkey") + lit(c * offset)))
      .reduce(_ unionByName _)
      .withColumn("l_shipyear", year(col("l_shipdate")))
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    warehouse = s"$work/warehouse-$rep"
    engine = new Engine(spark, warehouse)
    src = source(spark)
    Main.parallel(Seq(
      () => engine.writePartitioned(Year, src, Seq("l_shipyear")),
      () => {
        engine.write(Flat, src.drop("l_shipyear"))
        // compact once to one file per core; later compactions are steady
        targetBytes = math.max(64L * 1024, tableBytes(Flat) / spark.sparkContext.defaultParallelism)
        engine.compact(Flat, targetBytes)
      }))
  }

  private def tableDir(t: TableSpec) = s"$warehouse/${t.database}/${t.table}"
  private def tableBytes(t: TableSpec): Long = Main.dirBytes(tableDir(t))
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toList
    finally w.close()
  }
  private def partitions: Int =
    Option(new java.io.File(tableDir(Year)).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("l_shipyear="))

  /** Order-insensitive content fingerprint: (rows, sum of row hashes). */
  private def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(cols.map(col): _*).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Fingerprint per ship year, in one job. */
  private def yearPrints(df: DataFrame): Map[Int, (Long, Long)] =
    df.groupBy("l_shipyear")
      .agg(count(lit(1)), sum(hash(dataCols.map(col): _*).cast("long")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")

  private def yearIs(y: Int): Column = col("l_shipyear") === lit(y)

  def measure(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    dataCols = src.columns.filterNot(_ == "l_shipyear").sorted.toSeq
    // expected values, computed once from the source frame (untimed)
    val scan = fingerprint(src, ScanCols)
    val byYear = yearPrints(src)
    val full = byYear.values.foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
    val typedCols = LineTyped(0, 0, 0, 0, "").productElementNames.toSeq
    val typedByYear = src.select(struct(typedCols.map(col): _*), col("l_shipyear"))
      .as[(LineTyped, Int)].map { case (t, y) => (y, t.hashCode.toLong) }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    val tailKeys = src.select("l_orderkey").orderBy("l_orderkey").limit(100)
      .as[Long].collect().toSeq

    for (op <- ops) {
      val y = Option(op.get("year")).map(_.asInt()).getOrElse(0)
      op.get("op").asText() match {
        case "scan_full" =>
          b.op("scan_full", "read") {
            val df = b.span("api.read")(engine.read(Flat.copy(columns = ScanCols)))
            b.drain("api.drain", df)
          } { rows =>
            expect("rows", rows, scan._1)
            expect("content", fingerprint(engine.read(Flat.copy(columns = ScanCols)), ScanCols), scan)
            Map("table_bytes" -> tableBytes(Flat))
          }
        case "scan_pruned" =>
          b.op("scan_pruned", "read") {
            val df = b.span("api.read")(engine.read(Year.copy(partitionFilter = Some(yearIs(y)))))
            b.drain("api.drain", df)
            df
          } { df =>
            val read = df.queryExecution.executedPlan.collect {
              case s: FileSourceScanExec => s.metrics.get("numPartitions").map(_.value)
            }.flatten.sum
            expect("pruned read", fingerprint(df, dataCols), byYear(y))
            Map("partitions_read" -> read, "table_partitions" -> partitions)
          }
        case "read_typed" =>
          b.op("read_typed", "read") {
            b.span("api.readAs")(engine.readAs[LineTyped](
              Year.copy(partitionFilter = Some(yearIs(y))))).collect()
          } { rows =>
            expect("rows", rows.length.toLong, byYear(y)._1)
            expect("typed content", rows.map(_.hashCode.toLong).sum, typedByYear(y))
            Map.empty
          }
        case "tail" =>
          b.op("tail", "read") {
            b.span("api.tail")(engine.tail(Flat, 100, Some("l_orderkey")))
          } { rows =>
            expect("tail keys", rows.map(_.getAs[Long]("l_orderkey")).toSeq, tailKeys)
            Map.empty
          }
        case "stats" =>
          b.op("stats", "read") {
            b.span("api.stats")(engine.stats(Flat))
          } { case (rows, bytes) =>
            expect("stats rows", rows, full._1)
            expect("stats bytes", bytes, tableBytes(Flat))
            Map.empty
          }
        case "write_partition" =>
          // a narrower input type than the table's, so TypeWidening runs
          val in = src.filter(yearIs(y)).drop("l_shipyear")
            .withColumn("l_orderkey", col("l_orderkey").cast("int"))
            .withColumn("l_quantity", col("l_quantity").cast("float"))
          val t0 = System.currentTimeMillis()
          b.op("write_partition", "write") {
            b.span("api.write")(engine.write(Year, in,
              WriteSpec(Map("l_shipyear" -> y.toString), dropExistingPartition = true)))
          } { _ =>
            expect("table content by year", yearPrints(engine.read(Year)), byYear)
            writeDetail(Year, t0)
          }
        case "write_dynamic" =>
          val ys = Main.ints(op.get("years"))
          val in = src.filter(col("l_shipyear").isin(ys: _*))
          val t0 = System.currentTimeMillis()
          b.op("write_dynamic", "write") {
            b.span("api.writePartitioned")(
              engine.writePartitioned(Year, in, Seq("l_shipyear"), overwrite = true))
          } { _ =>
            expect("table content by year", yearPrints(engine.read(Year)), byYear)
            writeDetail(Year, t0)
          }
        case "compact" =>
          val t0 = System.currentTimeMillis()
          b.op("compact", "write") {
            b.span("api.compact")(engine.compact(Flat, targetBytes))
          } { _ =>
            expect("table content", fingerprint(engine.read(Flat), dataCols), full)
            writeDetail(Flat, t0)
          }
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
    }
  }

  /** Files and bytes a write left in the table (measured from outside). */
  private def writeDetail(t: TableSpec, sinceMs: Long): Map[String, Any] = {
    val files = dataFiles(tableDir(t))
    val fresh = files.filter(f =>
      java.nio.file.Files.getLastModifiedTime(f).toMillis >= sinceMs)
    val parts = if (t == Year) partitions else 1
    Map("files_written" -> fresh.size,
      "bytes_written" -> fresh.map(java.nio.file.Files.size(_)).sum,
      "table_files" -> files.size, "table_partitions" -> parts,
      "files_per_partition" -> files.size.toDouble / parts)
  }
}
