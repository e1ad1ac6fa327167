package graft.api

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Read-side intent — the Spark analog of `HiveInputDescription`
  * (reference hive-io-exp-core input/HiveInputDescription.java:41-146):
  * db+table, optional column projection (empty = all columns, matching
  * computeColumnIds at HiveApiInputFormat.java:267-269), a partition
  * predicate (a real `Column`, replacing the reference's metastore-
  * evaluated HQL filter string at HiveInputDescription.java:49), and a
  * parallelism hint (`numSplits`, :51,130-146).
  */
case class TableSpec(
    table: String,
    database: String = "default",
    columns: Seq[String] = Nil,
    partitionFilter: Option[Column] = None,
    numSplits: Option[Int] = None,
    format: String = "parquet",
    // schema evolution on read: union the per-partition parquet schemas
    // (absent columns null-filled) instead of trusting the first file —
    // the reference's metastore-fixed schema has no such notion
    // (schema/HiveTableSchemaImpl.java:99-121 walks one SerDe), but a
    // long-lived partitioned warehouse accretes columns over time
    mergeSchema: Boolean = false)

/** Write-side intent — analog of `HiveOutputDescription`: static
  * partition values and the partition-exists policy
  * (`hive.io.output.drop_partition`, reference output/OutputConf.java +
  * HiveApiOutputFormat.java:296-320). */
case class WriteSpec(
    partitionValues: Map[String, String] = Map.empty,
    dropExistingPartition: Boolean = false,
    // opt-in schema evolution: allow columns absent from the existing
    // table schema to append (readers see them via TableSpec.mergeSchema);
    // known columns still widen-check. Default keeps the reference's
    // fixed-schema contract (writes must match the declared schema)
    allowNewColumns: Boolean = false)

/** The engine facade: the reference's two-call surface
  * (`HiveInput.readTable` / `HiveOutput.writeTable`, input/HiveInput
  * .java:66, output/HiveOutput.java:50) over a parquet warehouse
  * directory, with Catalyst standing in for the metastore:
  *  - partition pruning: partition dirs + `partitionFilter` Column →
  *    `PruneFileSourcePartitions` (replaces get_partitions_by_filter,
  *    HiveApiInputFormat.java:290-309);
  *  - projection pushdown: `.select` → parquet column pruning (replaces
  *    setReadColumnIds, common/HiveUtils.java:232-249);
  *  - two-phase commit: Spark's FileCommitProtocol staging + rename and
  *    `_SUCCESS` marker (replaces HiveApiOutputCommitter.java:78-196).
  *
  * Partitioned tables store partition columns as directory keys
  * (`p=v/`), so at 100 TB a partition-filtered read lists only matching
  * directories — no full scan, same contract as the reference's
  * metastore-side pruning.
  *
  * Table shape without a data scan (the reference takes the schema from
  * the metastore and HiveStats sums stored numRows, HiveStats.java:
  * 96-107): for a parquet table of at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` data files —
  * Spark's own cutoff for listing on the driver — the data files are
  * listed with java.nio and their parquet footers read on the driver.
  * The first file's footer gives the data schema (Spark's inference
  * reads the same file, with the same conversion, in a Spark job);
  * the footers' row-group counts give [[stats]]' row count. Larger
  * tables, other formats, schema-merging reads and tables with no data
  * file take Spark's own path.
  */
class Engine(spark: SparkSession, warehouse: String) {

  private def path(spec: TableSpec): String =
    s"$warehouse/${spec.database}/${spec.table}"

  def tableExists(spec: TableSpec): Boolean =
    Files.exists(Paths.get(path(spec)))

  /** S17 storage-format plug-in (reference HiveTableSchema's serde
    * abstraction): any Spark file format by name — parquet (default,
    * per BASELINE), orc, json, csv… CSV gets header+inference defaults
    * so round-trips keep names/types where the format allows. */
  private def reader(session: SparkSession, format: String) = {
    val r = session.read.format(format)
    if (format == "csv") r.option("header", "true").option("inferSchema", "true") else r
  }

  private def writer(df: DataFrame, format: String) = {
    val w = df.write.format(format)
    if (format == "csv") w.option("header", "true") else w
  }

  /** S1: scan with projection + partition-filter pushdown.
    *
    * `numSplits` is honored the way the reference honors it — as split
    * *arithmetic*, not a shuffle (HiveInputDescription.java:130-146
    * divides table bytes by the hint to size splits): table bytes /
    * numSplits becomes `spark.sql.files.maxPartitionBytes` on a child
    * session (own SQLConf, shared SparkContext), so the parquet scan
    * itself produces ≈numSplits partitions and the plan carries no
    * Exchange. Works both directions: a small hint packs files together,
    * a large hint splits row groups finer.
    *
    * Building the frame starts no Spark job for a parquet table within
    * the driver-listing cutoff: the data schema comes from the footer of
    * its first data file in path order, read on the driver (see the
    * class doc). With `mergeSchema`, above the cutoff, for other formats
    * or with no data file, Spark infers the schema (a job for parquet;
    * an empty table keeps Spark's "unable to infer schema" error).
    * Partition columns are discovered from the directories either way. */
  def read(spec: TableSpec): DataFrame = {
    if (!tableExists(spec))
      throw new IllegalArgumentException(
        s"Table ${spec.database}.${spec.table} does not exist under $warehouse")
    val session = spec.numSplits.fold(spark) { n =>
      require(n > 0, s"numSplits must be positive, got $n")
      val s2 = spark.newSession()
      val target = math.max(64L * 1024L, tableBytes(spec) / n)
      s2.conf.set("spark.sql.files.maxPartitionBytes", target.toString)
      s2.conf.set("spark.sql.files.openCostInBytes", "0")
      s2
    }
    var df = load(session, spec)
    for (f <- spec.partitionFilter) df = df.filter(f)
    if (spec.columns.nonEmpty) df = df.select(spec.columns.map(col).toIndexedSeq: _*)
    df
  }

  /** The whole table as a frame, for [[read]] and [[rewrite]]. A parquet
    * read without schema merging is handed the data schema from a footer
    * read on the driver, so Spark skips its inference job. */
  private def load(session: SparkSession, spec: TableSpec): DataFrame = {
    val rdr = reader(session, spec.format)
    if (spec.mergeSchema) rdr.option("mergeSchema", "true")
    else footerSchema(session, spec).foreach(s => rdr.schema(s))
    rdr.load(path(spec))
  }

  /** The data schema Spark's inference would give a non-merging parquet
    * read: the footer of the first data file in path order
    * (`ParquetUtils.inferSchema`), converted as `mergeSchemasInParallel`
    * converts it — read here on the driver instead of in a job. */
  private def footerSchema(session: SparkSession, spec: TableSpec): Option[StructType] = {
    val conf = session.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else footerFiles(session, spec).flatMap(_.headOption).map { f =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(new org.apache.hadoop.fs.Path(f.toUri), readFooter(f)), converter)
    }
  }

  /** Data files of a parquet table in sorted path order when the footer
    * path applies: at most `parallelPartitionDiscovery.threshold` files
    * and no parquet summary file (Spark's inference prefers those).
    * `None` sends the caller to Spark's path. */
  private def footerFiles(session: SparkSession, spec: TableSpec): Option[Seq[Path]] =
    if (spec.format != "parquet") None
    else listFiles(Paths.get(path(spec)),
        session.sessionState.conf.parallelPartitionDiscoveryThreshold)
      .filterNot(_.exists(isSummary))

  /** Spark's file-source listing rule (`HadoopFSUtils
    * .shouldFilterOutPathName`): names starting with `_` (unless a `k=v`
    * directory) or `.`, and in-flight `._COPYING_` files, are not part of
    * the table — except parquet summary files, which are listed. */
  private def listed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** A listed file the scan does not read (Spark's `isDataPath`). */
  private def isSummary(f: Path): Boolean = f.getFileName.toString.startsWith("_")

  /** The files Spark lists under `root`, recursively, in sorted path
    * order — the order its inference takes the first file from
    * (`ParquetUtils.splitFiles`). `None` if `root` is not a directory or
    * once more than `limit` files are found. */
  private def listFiles(root: Path, limit: Int = Int.MaxValue): Option[Seq[Path]] = {
    val found = Vector.newBuilder[Path]
    var n = 0
    def visit(dir: Path): Boolean = {
      val ls = Files.list(dir)
      val entries = try ls.iterator().asScala.toVector finally ls.close()
      entries.filter(p => listed(p.getFileName.toString)).forall { p =>
        if (Files.isDirectory(p)) visit(p)
        else { found += p; n += 1; n <= limit }
      }
    }
    if (Files.isDirectory(root) && visit(root)) Some(found.result().sortBy(_.toString))
    else None
  }

  /** Options from the context's loaded Hadoop conf: the no-argument
    * `ParquetFileReader.open` builds a fresh Hadoop `Configuration` per
    * call and parses its XML defaults, ~2-9 ms a footer. */
  private def readFooter(f: Path): ParquetMetadata = {
    val opts = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    val r = ParquetFileReader.open(new LocalInputFile(f), opts)
    try r.getFooter finally r.close()
  }

  /** Total on-disk bytes of a table (driver-side directory walk — the
    * same listing the scan planner performs). */
  private def tableBytes(spec: TableSpec): Long = {
    val dir = Paths.get(path(spec))
    if (!Files.exists(dir)) return 0L
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }

  /** S2: typed scan — name-based bean mapping ≈ `Dataset[T]` encoders
    * (reference bean/UnsafeRowToBean.java:51-55 resolves bean fields by
    * schema name and throws on a miss; Spark's analyzer does the same). */
  def readAs[T: Encoder](spec: TableSpec): Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    val projected = spec.copy(columns =
      if (spec.columns.nonEmpty) spec.columns else enc.schema.fieldNames.toSeq)
    read(projected).as[T]
  }

  /** S11/S15/S16: write with the reference's precondition semantics:
    *  - partitioned table ⇒ partition spec arity must match the table's
    *    partition columns (sanityCheck, HiveApiOutputFormat.java:203-212);
    *  - target partition already present ⇒ error, unless
    *    `dropExistingPartition` ⇒ overwrite just that partition
    *    (checkPartitionInfo :296-320 + drop :417-441);
    *  - unpartitioned target with data ⇒ error (the reference requires an
    *    empty table, :332-347);
    *  - existing table schema ⇒ widening-only assignment
    *    ([[TypeWidening]], HiveType.checkAndUpgrade parity).
    */
  def write(spec: TableSpec, df: DataFrame, ws: WriteSpec = WriteSpec()): Unit = {
    val target = path(spec)
    val exists = tableExists(spec)

    val partCols = partitionColumns(spec)
    if (exists && partCols.nonEmpty && ws.partitionValues.isEmpty)
      throw new IllegalArgumentException(
        s"Table ${spec.table} is partitioned by ${partCols.mkString(",")}; " +
          "write requires partition values")
    if (exists && partCols.isEmpty && ws.partitionValues.nonEmpty)
      throw new IllegalArgumentException(
        s"Table ${spec.table} is not partitioned but partition values given")
    if (exists && partCols.nonEmpty && ws.partitionValues.keySet != partCols.toSet)
      throw new IllegalArgumentException(
        s"Partition spec ${ws.partitionValues.keySet} does not match " +
          s"table partition columns ${partCols.toSet}")

    if (ws.partitionValues.isEmpty) {
      // reference precondition: an unpartitioned target must be empty
      // (HiveApiOutputFormat.java:332-347) — so an existing table is an
      // error up front, with the engine's own message (widening applies
      // only on partitioned writes into an existing table)
      if (exists) throw new IllegalArgumentException(
        s"Unpartitioned table ${spec.table} already has data; " +
          "the reference semantics require an empty target")
      writer(df, spec.format).mode(SaveMode.ErrorIfExists).save(target)
    } else {
      // a data column named like a partition column would be written
      // into the files AND re-derived from the directory on read —
      // ambiguous; reject up front (the widen-check used to catch this
      // incidentally, but allowNewColumns would wave it through)
      val clash = df.columns.toSet.intersect(ws.partitionValues.keySet)
      if (clash.nonEmpty)
        throw new IllegalArgumentException(
          s"Data columns collide with partition columns: $clash")
      val partitionPath = ws.partitionValues.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("/")
      val partDir = s"$target/$partitionPath"
      if (Files.exists(Paths.get(partDir)) && !ws.dropExistingPartition)
        throw new IllegalArgumentException(
          s"Partition $partitionPath already exists in ${spec.table} " +
            "(set dropExistingPartition to overwrite)")
      val out =
        if (exists)
          // mergeSchema: after an evolved write, a single parquet footer
          // is no longer authoritative — without it the widen target
          // would depend on file listing order
          TypeWidening.widenTo(df,
            org.apache.spark.sql.types.StructType(
              reader(spark, spec.format).option("mergeSchema", "true")
                .load(target).schema.filterNot(f =>
                  ws.partitionValues.contains(f.name))),
            allowNew = ws.allowNewColumns)
        else df
      // static-partition write: data files under the partition dir;
      // overwrite replaces exactly this partition (drop_partition parity)
      writer(out, spec.format).mode(SaveMode.Overwrite).save(partDir)
    }
  }

  /** Spark-idiomatic extension beyond the reference's one-static-
    * partition-per-job writes: write `df` partitioned by `partitionCols`
    * with DYNAMIC partition overwrite — only the partitions present in
    * `df` are replaced, untouched partitions survive. This is the bulk
    * backfill shape at 100 TB (a day's re-run replaces that day only);
    * the reference would need one job per partition. */
  def writePartitioned(spec: TableSpec, df: DataFrame, partitionCols: Seq[String],
                       overwrite: Boolean = false): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned requires partition columns")
    val target = path(spec)
    if (tableExists(spec)) {
      val existing = partitionColumns(spec)
      if (existing != partitionCols)
        throw new IllegalArgumentException(
          s"Table ${spec.table} is partitioned by $existing, not $partitionCols")
    }
    df.write
      .partitionBy(partitionCols: _*)
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .option("partitionOverwriteMode", "dynamic")
      .format(spec.format)
      .save(target)
  }

  /** Partition columns of an existing table, inferred from directory
    * layout (`k=v` path segments) — the warehouse-as-metastore analog. */
  def partitionColumns(spec: TableSpec): Seq[String] = {
    val p = Paths.get(path(spec))
    if (!Files.exists(p)) return Nil
    var cols = Vector.empty[String]
    var cur = p
    var done = false
    while (!done) {
      val stream = Files.list(cur)
      val sub =
        try stream.filter(Files.isDirectory(_))
          .filter(_.getFileName.toString.contains("=")).findFirst()
        finally stream.close()
      if (sub.isPresent) {
        cols :+= sub.get.getFileName.toString.split("=")(0)
        cur = sub.get
      } else done = true
    }
    cols
  }

  /** HiveStats parity (common/HiveStats.java:90-107): additive row count
    * + byte size. Bytes are every file under the table directory. For a
    * parquet table within the driver-listing cutoff the row count is the
    * sum of the row-group row counts in its data files' footers, read on
    * the driver with no Spark job (the reference sums the metastore's
    * stored numRows instead). Larger tables, other formats and tables
    * with no data file run a `count()` job, and an empty table keeps
    * Spark's "unable to infer schema" error. */
  def stats(spec: TableSpec): (Long, Long) = {
    val rows = footerFiles(spark, spec).filter(_.nonEmpty) match {
      // zero-length files hold no rows and the scan skips them
      case Some(files) => files.filter(Files.size(_) > 0)
        .map(readFooter(_).getBlocks.asScala.map(_.getRowCount).sum).sum
      case None => reader(spark, spec.format).load(path(spec)).count()
    }
    (rows, tableBytes(spec))
  }

  /** hivetail parity (cmdline tailer/TailerCmd.java): bounded, ordered
    * sample of a table. */
  def tail(spec: TableSpec, limit: Int, orderCol: Option[String] = None): Array[Row] = {
    val df = read(spec)
    orderCol.fold(df)(c => df.orderBy(col(c))).limit(limit).collect()
  }

  /** Table OPTIMIZE: compaction plus optional multi-column Z-order
    * clustering in one rewrite (the modern table-maintenance verb).
    * With `zorderBy` empty this is [[compact]]; with ≥2 columns the
    * rewrite routes through [[graft.operators.ZOrder]] so every output
    * file covers a narrow range of every clustered column (min-max
    * pruning on all of them), sized to ceil(bytes / targetBytes) files.
    * Same staged-swap crash story as [[compact]]. */
  def optimize(spec: TableSpec, zorderBy: Seq[String] = Nil,
               targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    if (zorderBy.isEmpty) return compact(spec, targetBytes)
    require(zorderBy.size >= 2, "z-ordering needs >= 2 columns (else just sort)")
    rewrite(spec, targetBytes) { (df, files) =>
      graft.operators.ZOrder.zOrdered(df, zorderBy, files)
    }
  }

  /** Small-file compaction (table maintenance the reference lacks but a
    * streaming/upsert workload needs constantly — every micro-batch
    * write fragments the table): rewrite the table into
    * ceil(bytes / targetBytes) files via `coalesce` (a NARROW
    * repartition — existing files are concatenated by tasks, no
    * shuffle). Returns (filesBefore, filesAfter); see [[rewrite]] for
    * the staged-swap crash story and the unpartitioned-only rule. */
  def compact(spec: TableSpec, targetBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    rewrite(spec, targetBytes)((df, files) => df.coalesce(files))

  /** Shared staged-rewrite machinery for [[compact]]/[[optimize]]:
    * recover a crashed swap, size the target file count from current
    * bytes, apply `xform`, stage to a temp dir, swap. The swap is two
    * directory renames — near-instant but not atomic as a pair: a crash
    * between them leaves the data intact in `.compact-old` (recovered
    * automatically by the next rewrite); true single-rename atomicity
    * needs a table format with a metadata pointer, out of scope here.
    * Unpartitioned tables only: a whole-table rewrite of a partitioned
    * table would flatten its partition directories. */
  private def rewrite(spec: TableSpec, targetBytes: Long)
                     (xform: (DataFrame, Int) => DataFrame): (Int, Int) = {
    val p = path(spec)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    val tmp = p + ".compact-tmp"
    val bak = p + ".compact-old"
    // recover from a previous crashed rewrite BEFORE any existence check:
    // a .compact-old without a table dir means the swap never completed —
    // its content is the authoritative table
    if (!Files.exists(Paths.get(p)) && Files.exists(Paths.get(bak)))
      Files.move(Paths.get(bak), Paths.get(p))
    rm(new java.io.File(tmp)); rm(new java.io.File(bak))
    require(tableExists(spec), s"no such table: ${spec.table}")
    require(partitionColumns(spec).isEmpty,
      s"compact/optimize support unpartitioned tables only; ${spec.table} is " +
        s"partitioned by ${partitionColumns(spec)} — run them per partition instead")
    def files(dir: String): Seq[Path] =
      listFiles(Paths.get(dir)).getOrElse(Nil).filterNot(isSummary)
    val before = files(p)
    val bytes = before.map(Files.size(_)).sum
    val target = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    writer(xform(load(spark, spec), target), spec.format)
      .mode(SaveMode.Overwrite).save(tmp)
    Files.move(Paths.get(p), Paths.get(bak))
    Files.move(Paths.get(tmp), Paths.get(p))
    rm(new java.io.File(bak))
    (before.size, files(p).size)
  }
}
