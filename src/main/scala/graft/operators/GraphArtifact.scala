package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Build-once / serve-many lifecycle for the two derived graphs every
  * graph-family query walks (the [[graft.llm.AnnIndex]] pattern applied
  * to edges):
  *
  *  - `copurchase/`: the part–part co-purchase projection of the
  *    order–part bipartite graph — an edge between two parts appearing
  *    together in ≥ 2 distinct orders. Consumed by the triangle census
  *    (q179), k-core (q184), HyperBall (q211), assortativity (q244)
  *    and the component profile (q245).
  *  - `click/`: the user–item click bipartite graph from `events`
  *    (item nodes keyed into the negative id space, −1−k — disjoint
  *    from any non-negative user id at ANY scale). Consumed by
  *    PageRank (q116) and personalized PageRank (q242).
  *
  * Without an artifact each of those seven queries re-derives its edge
  * list from `lineitem`/`events` — a distinct + self-join + aggregate
  * whose cost DOMINATES the downstream iteration at 100 TB (the
  * projection join fans out C(parts-per-order, 2) per order). [[build]]
  * pays that derivation once and persists the canonical edge lists;
  * [[coPurchase]]/[[clickEdges]] serve from the artifact when
  * `spark.graft.graphArtifact` points at one, and fall back to the
  * inline derivation otherwise — so the queries are self-contained for
  * the correctness gate yet share one scan in production (Bench and
  * Verify both build the artifact up front and serve every graph query
  * from it; the DuckDB oracle still derives edges inline, so a green
  * oracle row IS the proof the served path equals the derivation).
  *
  * == Partition-local state ==
  *
  * Every persisted table is hash-bucketed on its key — `bkt =
  * pmod(hash(keys…), n)`, `n` fixed at build time
  * (`spark.graft.graphArtifact.buckets`, recorded in
  * `_meta/state.json` so appends can never mix bucket counts):
  *
  *  - `copurchase_support/bkt=K/` — the UNthresholded (a, b, support)
  *    pair counts, the additive state [[append]] folds batches into;
  *  - `copurchase/bkt=K/`        — the thresholded edge projection;
  *  - `click/bkt=K/`             — distinct (u, v) click edges;
  *  - `orders/bkt=K/`            — the seen-order ledger backing the
  *    order-disjointness guard (replaying an ingest batch would
  *    silently double-count support, so overlap fails loudly).
  *
  * [[append]] therefore touches ONLY the buckets the batch hashes
  * into: it partition-prunes its reads to those buckets, stages the
  * merged buckets, and swaps them in with directory renames — at
  * 100 TB the base support state is the large table, and an append is
  * O(batch pairs + the touched buckets' rows), never a reshuffle of
  * the full state (GraphArtifactSpec pins that untouched buckets'
  * files are byte-for-byte untouched across an append).
  *
  * == Commit discipline ==
  *
  * Mutation is SINGLE-WRITER, and since round 10 that is enforced, not
  * just documented: every write entry point ([[build]]/[[append]]/
  * [[repair]]) runs under an exclusive [[graft.common.WriterLease]]
  * (`<artifact>.lease`, a sibling so build's live-dir swap cannot move
  * it) — a second simultaneous writer fails fast instead of
  * interleaving renames undetected; a crashed holder's lease is
  * reclaimed by the same owner instantly or by anyone after its TTL
  * (GraphArtifactSpec two-appender leg).
  *
  * [[build]] stages the whole artifact and swaps it in with a
  * roll-forward-able three-step (`live → .old`, `staging → live`,
  * drop `.old`) — a crash between any two steps is repaired by
  * [[recover]] (staging completeness is marked by its
  * `_meta/state.json`, written last). [[append]] uses a write-ahead
  * `_meta/pending.json` recording the touched buckets (and whether
  * each had base data), renames the replaced buckets into `_backup/`
  * before swapping staged ones in, and commits by atomically
  * promoting `_meta/state.json` with the batch id. [[recover]] — run
  * by every append (and exposed as [[repair]] for operators) — rolls an
  * interrupted append forward (batch id present in the committed state:
  * drop backups) or back (absent: restore backups). Serving is strictly
  * READ-ONLY: it observes committed state, reads through a
  * committed-but-uncleaned pending marker, and fails loudly on an
  * uncommitted one rather than repairing — a reader cannot distinguish
  * a crashed append from one in flight in another session, so mutating
  * recovery from the read path could roll back a LIVE append's renames
  * (round-9 fix; GraphArtifactSpec pins zero file churn on a served
  * uncommitted artifact). So readers always observe either the full
  * batch or none of it, and no crash window can strand the artifact
  * without a live state (the round-7 delete-then-rename hazard).
  */
object GraphArtifact {

  /** Session conf key: when set, [[coPurchase]]/[[clickEdges]] read the
    * persisted edge lists under this path instead of re-deriving. */
  val Key = "spark.graft.graphArtifact"

  /** Bucket count for the hash-partitioned state, read at BUILD time
    * only (32 suits local[32]/sf0.1; a 100 TB deployment raises it so
    * one bucket's support rows fit an executor). Appends always reuse
    * the build-time count persisted in `_meta/state.json`. */
  val BucketsKey = "spark.graft.graphArtifact.buckets"

  /** Session conf key: when `true` (and [[Key]] is set), the iterative
    * graph family consumes the ITERATION-SHAPED bucketed serving state
    * ([[clickIterEdges]]/[[coPurchaseIterServed]]) — a real Spark
    * bucketed-table scan whose `HashPartitioning(joinKey, n)` feeds the
    * per-iteration join with NO edge-side exchange (IterProbe variant D:
    * shuffles per iteration 6 → 4). Default OFF: on a single node the
    * in-memory checkpointed frame wins (re-decoding parquet every
    * iteration costs more than process-local exchanges save — measured
    * 4.21 vs 3.49 s); the bucketed shape wins when the saved exchange is
    * NETWORK-bound, i.e. on a real cluster. `auto` (round 13) encodes
    * the measured deployment rule's BOTH halves (IterProbe cluster,
    * SCALE.md round-12: ~2× steady-state iteration above the broadcast
    * threshold, no separation below it): serve bucketed iff the stored
    * sub's bytes exceed `spark.sql.autoBroadcastJoinThreshold` (with
    * threshold −1 ⇒ always bucketed, since the edge side can then
    * never broadcast). */
  val BucketedServeKey = "spark.graft.graph.bucketedServe"

  private val Subs = Seq("copurchase_support", "copurchase", "click", "orders")

  /** The iteration-shaped serving subs — stored as Spark BUCKETED
    * layouts (bucket id embedded in the file NAME, no `bkt=` dirs),
    * because only a catalog-registered bucketed table exposes a
    * join-consumable `HashPartitioning` to the planner:
    *
    *  - `click_iter/`      — the MIRRORED click edge list with each
    *    source's degree denormalized on, (u, v, deg), bucketed by `u`
    *    (PageRank/PPR join ranks on u every iteration; deg is
    *    bucket-local because every row of a key lives in its bucket);
    *  - `copurchase_iter/` — the mirrored thresholded co-purchase edge
    *    list, (src, dst), bucketed by `dst` (HyperBall max-merges
    *    registers along dst every round).
    *
    * Mirroring is part of the stored shape on purpose: a union of the
    * directed list with its swap destroys any scan partitioning, so the
    * exchange-free iteration NEEDS the mirror persisted. */
  private val IterSubs = Seq("click_iter", "copurchase_iter")

  private val clickIterSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("deg", org.apache.spark.sql.types.LongType)))
  private val coPurchaseIterSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dst", org.apache.spark.sql.types.LongType)))

  private def iterSchema(sub: String) =
    if (sub == "click_iter") clickIterSchema else coPurchaseIterSchema
  private def iterKey(sub: String) = if (sub == "click_iter") "u" else "dst"

  /** Bucket id embedded in a bucketed-layout file name — Spark's own
    * convention (`part-00000-<uuid>_00003.c000.snappy.parquet` → 3),
    * the same pattern `BucketingUtils.getBucketId` parses, so files we
    * stage per-bucket are exactly what a bucketed scan trusts. */
  private val BucketedFileRe = """.*_(\d+)(?:\..*)?$""".r

  private def bucketIdOf(name: String): Option[Int] = name match {
    case BucketedFileRe(id) => Some(id.toInt)
    case _                  => None
  }

  private def bktCol(n: Int, cols: Column*): Column = pmod(hash(cols: _*), lit(n))

  // ------------------------------------------------------------------
  // Inline derivations (the fallback path and the oracle's semantics)
  // ------------------------------------------------------------------

  /** Inline co-purchase derivation (the pre-artifact shape): DISTINCT
    * (order, part) incidence, per-order pair fan-out bounded by order
    * size (never corpus-quadratic), map-side-combinable support count,
    * support ≥ 2. */
  private[graft] def coPurchaseInline(s: SparkSession, dir: String): DataFrame =
    supportFromItems(itemsInline(s, dir))
      .where(col("support") >= 2)
      .select("a", "b")

  /** Inline click-graph derivation: one DIRECTED (user → item) edge per
    * distinct (user, clicked key); item ids live at −1−k. Callers mirror
    * to the undirected form themselves (both PageRank variants do). */
  private[graft] def clickEdgesInline(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"),
        (lit(-1L) - get_json_object(col("props"), "$.k").cast("long")).as("v"))
      .distinct()

  /** Distinct (order, part) incidence — the additive unit of the
    * co-purchase graph (orders are atomic, so per-order pair counts
    * sum across disjoint order batches). */
  private[graft] def itemsInline(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()

  /** UNthresholded pair-support table (a, b, support) from an incidence
    * batch — what the artifact persists so appends stay additive (the
    * thresholded edge list is a projection, not the state). */
  private[graft] def supportFromItems(items: DataFrame): DataFrame =
    items.as("x").join(items.as("y"), Seq("o"))
      .where(col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))

  // ------------------------------------------------------------------
  // Meta / small-file plumbing
  // ------------------------------------------------------------------

  private case class Meta(buckets: Int, batches: Seq[String])

  private def fsOf(s: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), s.sparkContext.hadoopConfiguration)

  /** Atomic small-file write: tmp + rename (dest must not exist). */
  private def writeSmall(fs: FileSystem, path: Path, content: String): Unit = {
    val tmp = new Path(path.toString + ".tmp")
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, path))
      throw new IllegalStateException(s"atomic write failed: $tmp -> $path")
  }

  private def readSmall(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def metaJson(m: Meta): String =
    s"""{"buckets":${m.buckets},"batches":[${m.batches.map("\"" + _ + "\"").mkString(",")}]}"""

  private def readMeta(fs: FileSystem, root: String): Meta = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readSmall(fs, new Path(root, "_meta/state.json")))
    Meta(node.path("buckets").asInt(),
      node.path("batches").elements().asScala.map(_.asText()).toSeq)
  }

  /** Write `df` as a Spark BUCKETED layout at `path`. `bucketBy` is
    * only reachable through `saveAsTable`, so this registers a
    * throwaway EXTERNAL table (explicit path ⇒ `DROP` keeps the files,
    * whose names carry the bucket ids) and drops it immediately — the
    * catalog entry at serve time is a separate, stable registration
    * ([[serveBucketed]]). The `repartition(n, key)` first: its
    * `HashPartitioning(key, n)` task layout coincides with the bucket
    * function, so each bucket is exactly ONE file (which keeps the
    * per-bucket append swap an O(1) rename, and lets the scan trust
    * the SORTED BY order — Spark only does for ≤1 file per bucket). */
  private def writeBucketed(s: SparkSession, df: DataFrame, path: String,
                            key: String, n: Int): Unit = {
    val tmp = "graft_bucketed_write_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.repartition(n, col(key))
      .write.bucketBy(n, key).sortBy(key)
      .option("path", path).format("parquet").saveAsTable(tmp)
    s.sql(s"DROP TABLE `$tmp`")
    // an EMPTY frame writes no files and may not even create the dir;
    // serve probes existence to distinguish "empty" from "pre-iter-sub
    // artifact", so pin the dir
    fsOf(s, path).mkdirs(new Path(path))
  }

  /** Read the rows of the `touched` buckets of an iteration-shaped sub
    * by FILE selection (bucket id parsed from the name) — the
    * bucketed-layout analog of the `bkt=` partition-pruned [[serve]]
    * reads: an append's cost stays O(touched buckets' rows). */
  private def readIterBucketRows(s: SparkSession, fs: FileSystem, root: String,
                                 sub: String, touched: Seq[Int]): DataFrame = {
    val p = new Path(root, sub)
    val files =
      if (!fs.exists(p)) Array.empty[Path]
      else fs.listStatus(p)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .filter(st => bucketIdOf(st.getPath.getName).exists(touched.contains))
        .map(_.getPath)
    if (files.isEmpty)
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        iterSchema(sub))
    else s.read.schema(iterSchema(sub)).parquet(files.map(_.toString): _*)
  }

  /** Promote a new state.json — the append COMMIT POINT. The dest may
    * exist, and Hadoop rename refuses to clobber, so the replacement is
    * write-next → delete-current → rename-next; [[recover]] rolls the
    * delete→rename window forward (state missing + next present). */
  private def commitState(fs: FileSystem, root: String, m: Meta): Unit = {
    val state = new Path(root, "_meta/state.json")
    val next = new Path(root, "_meta/state.json.next")
    writeSmall(fs, next, metaJson(m))
    fs.delete(state, false)
    if (!fs.rename(next, state))
      throw new IllegalStateException(s"state promote failed under $root")
  }

  // ------------------------------------------------------------------
  // Recovery — every serve/append entry point runs this first
  // ------------------------------------------------------------------

  /** Repair any interrupted build swap or append so the artifact is
    * always observed in a committed state. Idempotent; cheap (a few
    * metadata probes) when there is nothing to repair.
    *
    * MUTATING — runs only from the single-writer entry points
    * ([[append]]; exposed as [[repair]] for operational use): a reader
    * must never invoke it, because recovery cannot distinguish a
    * CRASHED append from an IN-FLIGHT one owned by another session —
    * rolling "back" a live append's renames while the appender is
    * still working would corrupt the artifact. The serve path instead
    * observes committed state read-only ([[serve]]). */
  private[graft] def recover(s: SparkSession, root: String): Unit = {
    val fs = fsOf(s, root)
    val live = new Path(root)
    val staging = new Path(root + ".staging")
    val old = new Path(root + ".old")
    // build swap: staging is complete iff its state.json (written last)
    // exists; live missing + complete staging ⇒ roll the swap forward
    if (!fs.exists(live) && fs.exists(new Path(staging, "_meta/state.json"))) {
      if (!fs.rename(staging, live))
        throw new IllegalStateException(s"build roll-forward failed: $root")
    }
    if (fs.exists(live) && fs.exists(old)) fs.delete(old, true)
    if (!fs.exists(live)) return
    // state promote window: delete happened, rename didn't
    val state = new Path(root, "_meta/state.json")
    val next = new Path(root, "_meta/state.json.next")
    if (!fs.exists(state) && fs.exists(next)) {
      if (!fs.rename(next, state))
        throw new IllegalStateException(s"state roll-forward failed: $root")
    } else if (fs.exists(next)) {
      fs.delete(next, false) // uncommitted state beside a live one
    }
    // interrupted append: committed batch ⇒ drop backups; uncommitted ⇒
    // restore every touched bucket from its backup (or drop the staged
    // bucket if it never had base data), leaving the pre-append state
    val pendP = new Path(root, "_meta/pending.json")
    if (fs.exists(pendP)) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readSmall(fs, pendP))
      val batchId = node.path("batchId").asText()
      val committed = readMeta(fs, root).batches.contains(batchId)
      if (!committed) {
        node.path("subs").fields().asScala.foreach { e =>
          val sub = e.getKey
          e.getValue.elements().asScala.foreach { b =>
            val k = b.path("bkt").asInt()
            val hadBase = b.path("hadBase").asBoolean()
            if (IterSubs.contains(sub)) {
              // bucketed layout: per-bucket FILE rollback. Backup
              // presence distinguishes the crash windows exactly as for
              // the dir subs: no backup ⇒ the swap never reached this
              // bucket (base file still live — touch nothing); backup
              // present ⇒ whatever is live for this bucket is staged-in,
              // drop it and restore the backup
              val liveDir = new Path(root, sub)
              val backDir = new Path(root, s"_backup/$sub")
              def filesOf(dir: Path): Seq[Path] =
                if (!fs.exists(dir)) Nil
                else fs.listStatus(dir).toSeq
                  .filter(st => st.isFile && bucketIdOf(st.getPath.getName).contains(k))
                  .map(_.getPath)
              if (hadBase) {
                val backed = filesOf(backDir)
                if (backed.nonEmpty) {
                  filesOf(liveDir).foreach(f => fs.delete(f, false))
                  backed.foreach { f =>
                    if (!fs.rename(f, new Path(liveDir, f.getName)))
                      throw new IllegalStateException(
                        s"append rollback failed: $f -> $liveDir")
                  }
                }
              } else filesOf(liveDir).foreach(f => fs.delete(f, false))
            } else {
              val liveB = new Path(root, s"$sub/bkt=$k")
              val backB = new Path(root, s"_backup/$sub/bkt=$k")
              if (hadBase) {
                if (fs.exists(backB)) {
                  fs.delete(liveB, true)
                  if (!fs.rename(backB, liveB))
                    throw new IllegalStateException(
                      s"append rollback failed: $backB -> $liveB")
                } // else: the swap never reached this bucket — base intact
              } else fs.delete(liveB, true) // new bucket: staged-in or absent
            }
          }
        }
      }
      fs.delete(new Path(root, "_backup"), true)
      fs.delete(new Path(root, "_staged"), true)
      fs.delete(pendP, false)
    } else {
      // staged output from a crash before the pending marker is garbage
      fs.delete(new Path(root, "_staged"), true)
    }
  }

  // ------------------------------------------------------------------
  // Build
  // ------------------------------------------------------------------

  /** Derive both edge lists from `dir`'s tables and persist them under
    * `outPath` (full staging + roll-forward-able swap), along with the
    * additive pair-support state and the seen-order ledger [[append]]
    * maintains. Idempotent: a re-build replaces the artifact wholesale. */
  def build(s: SparkSession, dir: String, outPath: String): Unit =
    buildFrom(s, itemsInline(s, dir), clickEdgesInline(s, dir), outPath)

  /** [[build]] from explicit incidence/click frames — the entry point
    * for partial-corpus builds (and the append spec's base). */
  private[graft] def buildFrom(s: SparkSession, items: DataFrame,
                               clicks: DataFrame, outPath: String): Unit =
    graft.common.WriterLease.withLease(fsOf(s, outPath), leasePath(outPath)) {
      buildUnlocked(s, items, clicks, outPath)
    }

  /** The size-adaptive bucket count: one bucket per ~32 MB of a size
    * estimate, clamped to [8, 4096] and rounded up to a power of two.
    * The clamp is taken in `BigInt`: a Catalyst estimate of a join is a
    * product and can exceed `Long.MaxValue`, and must get the most
    * buckets, not wrap to the fewest. */
  private[graft] def adaptiveBuckets(sizeInBytes: BigInt): Int = {
    val clamped = (sizeInBytes / (32L << 20)).max(8).min(4096).toInt
    Integer.highestOneBit(clamped) * (if (Integer.bitCount(clamped) == 1) 1 else 2)
  }

  private def buildUnlocked(s: SparkSession, items: DataFrame,
                            clicks: DataFrame, outPath: String): Unit = {
    // Bucket count: conf wins; otherwise SIZE-ADAPTIVE from the incidence
    // frame's Catalyst size estimate ([[adaptiveBuckets]]; round 15,
    // previously a flat 32 tuned to neither the fixtures nor a
    // cluster). The count is a LAYOUT
    // property recorded in _meta/state.json: append and serve read it
    // from the meta, and the base+append ≡ full law is bucket-agnostic
    // (GraphArtifactSpec runs it at 8 vs 32), so the rule only moves
    // file counts — small fixtures stop paying 32-way small-file
    // overhead per sub-table, 100 TB corpora get enough buckets that a
    // batch append's touched-bucket reads stay a small fraction.
    val n = s.conf.getOption(BucketsKey).map(_.toInt).getOrElse(
      adaptiveBuckets(items.queryExecution.optimizedPlan.stats.sizeInBytes))
    val fs = fsOf(s, outPath)
    val live = new Path(outPath)
    val staging = new Path(outPath + ".staging")
    fs.delete(staging, true)
    def stagePath(sub: String) = new Path(staging, sub).toString
    // An EMPTY sub (e.g. a corpus with no click events) writes only
    // _SUCCESS under partitionBy — no partition dir, no schema-bearing
    // file — and every later read.parquet would die with "Unable to
    // infer schema", permanently bricking the artifact. Guard: when no
    // bkt= dir exists after the write, persist the schema as a zero-row
    // file inside a bkt=0 partition dir, so partition discovery, bucket
    // pruning, and append's hadBase probes behave exactly as when data
    // exists (GraphArtifactSpec empty-sub leg).
    def ensureReadableSchema(path: String,
                             schema: org.apache.spark.sql.types.StructType): Unit = {
      val p = new Path(path)
      val hasBkt = fs.exists(p) && fs.listStatus(p)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("bkt="))
      if (!hasBkt) {
        val dataSchema = org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name == "bkt"))
        s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), dataSchema)
          .write.mode("overwrite").parquet(path + "/bkt=0")
      }
    }
    // repartition ON the bucket column before every partitioned write:
    // without it each of the shuffle-partitions tasks opens a file in
    // every bucket directory (tasks × buckets small files — slower to
    // write, list, read, and rename); with it each bucket is exactly
    // one file, which is also what makes the per-bucket append renames
    // O(1) metadata ops
    //
    // The six staged writes form THREE independent chains — co-purchase
    // (support → thresholded edges → mirrored iter shape), click
    // (edges → mirrored iter shape), and the order ledger — that only
    // meet again at the state.json commit below. Run the chains from a
    // 3-thread pool so each chain's job tails back-fill with the others'
    // tasks (optimization guide §2.6); every write lands in its own
    // staging subdir and the per-chain ORDER is unchanged, so the staged
    // bytes are what the sequential build produced. Measured solo
    // (spark-shell, sf0.1/local[32]): warm 9.7 → 6.5 s, cold (the
    // bench's q000_graph_build position) 31.0 → 17.1 s.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fCoPurchase = scala.concurrent.Future {
      val supStaged = supportFromItems(items)
        .withColumn("bkt", bktCol(n, col("a"), col("b")))
      supStaged.repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stagePath("copurchase_support"))
      ensureReadableSchema(stagePath("copurchase_support"), supStaged.schema)
      // the edge projection reads the staged support back, so its bkt
      // column (and thus its bucketing) is exactly the support table's
      val edgeStaged = s.read.parquet(stagePath("copurchase_support"))
        .where(col("support") >= 2).select("a", "b", "bkt")
      edgeStaged.repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stagePath("copurchase"))
      ensureReadableSchema(stagePath("copurchase"), edgeStaged.schema)
      // Iteration-shaped serving state (see IterSubs): mirrored edge
      // frames as real bucketed layouts, keyed on the per-iteration
      // join key. NO distinct after the mirror — the queries' inline
      // recipe mirrors without one (a frame carrying both directions of
      // an edge double-counts deg identically under both paths), so the
      // stored shape must reproduce the multiset exactly. Types pinned
      // to BIGINT so a custom buildFrom frame can't write a schema the
      // serve DDL contradicts.
      val eDir = s.read.parquet(stagePath("copurchase"))
        .select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      writeBucketed(s,
        eDir.union(eDir.select(col("dst").as("src"), col("src").as("dst"))),
        stagePath("copurchase_iter"), "dst", n)
    }
    val fClick = scala.concurrent.Future {
      val clickStaged = clicks.distinct()
        .withColumn("bkt", bktCol(n, col("u"), col("v")))
      clickStaged.repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stagePath("click"))
      ensureReadableSchema(stagePath("click"), clickStaged.schema)
      val cDir = s.read.parquet(stagePath("click"))
        .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      val cMir = cDir.union(cDir.select(col("v").as("u"), col("u").as("v")))
      writeBucketed(s,
        cMir.join(cMir.groupBy("u").agg(count(lit(1)).as("deg")), "u"),
        stagePath("click_iter"), "u", n)
    }
    val fOrders = scala.concurrent.Future {
      val ordersStaged = items.select("o").distinct()
        .withColumn("bkt", bktCol(n, col("o")))
      ordersStaged.repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stagePath("orders"))
      ensureReadableSchema(stagePath("orders"), ordersStaged.schema)
    }
    try
      // drain ALL chains to completion before rethrowing (round-14
      // advice): fast-fail would leave sibling chains writing into
      // staging while the caller retries or recovers
      Seq(fCoPurchase, fClick, fOrders).map(f =>
        scala.concurrent.Await.ready(
          f, scala.concurrent.duration.Duration.Inf).value.get)
        .foreach(_.get)
    finally pool.shutdown()
    // state.json LAST: its presence marks the staging as complete
    writeSmall(fs, new Path(staging, "_meta/state.json"), metaJson(Meta(n, Nil)))
    val old = new Path(outPath + ".old")
    fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new IllegalStateException(s"artifact swap (live aside) failed: $outPath")
    if (!fs.rename(staging, live))
      throw new IllegalStateException(s"artifact commit failed: $staging -> $live")
    fs.delete(old, true)
  }

  // ------------------------------------------------------------------
  // Incremental append
  // ------------------------------------------------------------------

  /** Incremental maintenance: fold a batch of NEW orders' (order, part)
    * incidence and new click events into an existing artifact. Support
    * counts sum (orders are atomic, so batches must be order-disjoint
    * with the base — ENFORCED against the persisted seen-order ledger,
    * because replaying a batch would silently double-count support),
    * clicks union-distinct (idempotent by nature), and the thresholded
    * edge projection is refreshed for exactly the touched buckets.
    *
    * Cost is partition-local: reads prune to the buckets the batch
    * hashes into, writes stage only those buckets, and the commit is a
    * per-bucket directory swap behind a write-ahead pending marker —
    * O(batch pairs + touched buckets' rows), never a reshuffle or
    * rewrite of the full persisted state. Crash anywhere ⇒ [[recover]]
    * restores either the full batch (committed) or the exact pre-append
    * state (uncommitted), so a failed append can simply be retried. */
  def append(s: SparkSession, itemsBatch: DataFrame,
             clicksBatch: DataFrame, artPath: String): Unit =
    graft.common.WriterLease.withLease(fsOf(s, artPath), leasePath(artPath)) {
      appendUnlocked(s, itemsBatch, clicksBatch, artPath)
    }

  /** The artifact's single-writer lock, a SIBLING of the live dir —
    * build swaps the live dir itself, so an in-tree lock would move out
    * from under its holder. GraphArtifactSpec's two-appender leg pins
    * the loser failing fast with zero file churn. */
  private def leasePath(artPath: String) = new Path(artPath + ".lease")

  private def appendUnlocked(s: SparkSession, itemsBatch: DataFrame,
                             clicksBatch: DataFrame, artPath: String): Unit = {
    recover(s, artPath)
    val fs = fsOf(s, artPath)
    require(fs.exists(new Path(artPath, "copurchase_support")) &&
        fs.exists(new Path(artPath, "_meta/state.json")),
      s"no pair-support state under $artPath - rebuild with build() first")
    val meta = readMeta(fs, artPath)
    val n = meta.buckets

    def readSub(sub: String, touched: Seq[Int]): DataFrame = {
      val df = s.read.parquet(new Path(artPath, sub).toString)
      if (touched.isEmpty) df.where(lit(false)) else
        df.where(col("bkt").isin(touched: _*)) // partition-pruned
    }
    def buckets(df: DataFrame): Seq[Int] =
      df.select("bkt").distinct().collect().map(_.getInt(0)).toSeq // ≤ n rows

    // ---- disjointness guard against the persisted order ledger ----
    val batchOrders = itemsBatch.select("o").distinct()
      .withColumn("bkt", bktCol(n, col("o")))
      .localCheckpoint(true)
    val touchedOB = buckets(batchOrders)
    val overlap = readSub("orders", touchedOB).select("o")
      .join(batchOrders.select("o"), "o").limit(1).count()
    require(overlap == 0,
      s"ingest batch overlaps orders already in $artPath — appends must be " +
        "order-disjoint (a replay would double-count pair support); " +
        "rebuild with build() to reset")

    // ---- merged buckets (computed BEFORE any live file moves) ----
    // the two batch materializations are independent eager checkpoints —
    // run them concurrently (guide §2.6, the buildUnlocked discipline)
    // so the pair-support aggregation's task tail back-fills with the
    // click distinct
    val batchPool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val batchEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(batchPool)
    val fBSup = scala.concurrent.Future {
      supportFromItems(itemsBatch)
        .withColumn("bkt", bktCol(n, col("a"), col("b")))
        .localCheckpoint(true)
    }(batchEc)
    val fCB = scala.concurrent.Future {
      clicksBatch.distinct()
        .withColumn("bkt", bktCol(n, col("u"), col("v")))
        .localCheckpoint(true)
    }(batchEc)
    val (bSup, cB) =
      try {
        val rs = scala.concurrent.Await.ready(fBSup,
          scala.concurrent.duration.Duration.Inf).value.get
        val rc = scala.concurrent.Await.ready(fCB,
          scala.concurrent.duration.Duration.Inf).value.get
        (rs.get, rc.get) // both drained; first failure rethrows here
      } finally batchPool.shutdown()
    val touchedPB = buckets(bSup)
    val mergedSup = readSub("copurchase_support", touchedPB)
      .select("a", "b", "support")
      .unionByName(bSup.select("a", "b", "support"))
      .groupBy("a", "b").agg(sum("support").as("support"))
      .withColumn("bkt", bktCol(n, col("a"), col("b")))
    val touchedCB = buckets(cB)
    val mergedClicks = readSub("click", touchedCB).select("u", "v")
      .unionByName(cB.select("u", "v")).distinct()
      .withColumn("bkt", bktCol(n, col("u"), col("v")))
    val mergedOrders = readSub("orders", touchedOB).select("o")
      .unionByName(batchOrders.select("o"))
      .withColumn("bkt", bktCol(n, col("o")))

    if (touchedPB.isEmpty && touchedCB.isEmpty && touchedOB.isEmpty)
      return // empty batch: a no-op, not a new committed state

    // ---- stage the touched buckets ----
    val stagedRoot = new Path(artPath, "_staged")
    fs.delete(stagedRoot, true)
    def stage(sub: String, df: DataFrame): Unit =
      df.repartition(col("bkt")) // one file per staged bucket (see buildFrom)
        .write.partitionBy("bkt").parquet(new Path(stagedRoot, sub).toString)
    // Staging + the iteration-shaped sub maintenance form the same three
    // independent chains as buildUnlocked (co-purchase, click, orders) —
    // every write lands in its own _staged subdir and the live-file
    // moves all happen after the join point below, so running the
    // chains from a 3-thread pool changes nothing about the staged
    // bytes or the swap (guide §2.6).
    //
    // iteration-shaped subs (see IterSubs) — maintained iff the
    // artifact carries them (one built before they existed keeps
    // serving its dir-partitioned subs; bucketedServe then fails
    // loudly instructing a rebuild, never serves stale data)
    val stagePool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val stageEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(stagePool)
    val fCoPurchase = scala.concurrent.Future {
      if (touchedPB.nonEmpty) {
        stage("copurchase_support", mergedSup)
        // project edges from the STAGED support (one merge computation,
        // and the bkt column is exactly the support table's — build's rule)
        stage("copurchase",
          s.read.parquet(new Path(stagedRoot, "copurchase_support").toString)
            .where(col("support") >= 2).select("a", "b", "bkt"))
        if (fs.exists(new Path(artPath, "copurchase_iter"))) {
          // support is monotone under order-disjoint appends, so edges
          // are only ever ADDED: the delta is staged-thresholded minus
          // base edges over the touched (a,b)-hashed buckets, and its
          // mirrored rows are disjoint from the base iter rows by
          // construction
          val stagedEdges = s.read
            .parquet(new Path(stagedRoot, "copurchase").toString).select("a", "b")
          val delta = stagedEdges
            .join(readSub("copurchase", touchedPB).select("a", "b"), Seq("a", "b"), "left_anti")
            .select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
          val mDelta = delta.union(delta.select(col("dst").as("src"), col("src").as("dst")))
            .withColumn("bkt", bktCol(n, col("dst")))
            .localCheckpoint(true)
          val tpi = buckets(mDelta)
          if (tpi.nonEmpty) {
            writeBucketed(s,
              readIterBucketRows(s, fs, artPath, "copurchase_iter", tpi)
                .unionByName(mDelta.select("src", "dst")),
              new Path(stagedRoot, "copurchase_iter").toString, "dst", n)
          }
        }
      }
    }
    val fClick = scala.concurrent.Future {
      if (touchedCB.nonEmpty) {
        stage("click", mergedClicks)
        if (fs.exists(new Path(artPath, "click_iter"))) {
          // the click sub dedups DIRECTED edges before the mirror, so
          // the iter delta is the mirror of the directed rows NOT
          // already in the base (all possible duplicates of a batch row
          // live in the batch row's own (u,v)-hashed buckets, already
          // read above) — a plain multiset union then reproduces
          // mirror(base ∪ batch) exactly, including the
          // both-directions-clicked case a distinct after the mirror
          // would silently collapse
          val newClicks = cB.select(col("u").cast("long").as("u"),
              col("v").cast("long").as("v"))
            .join(readSub("click", touchedCB).select("u", "v"), Seq("u", "v"), "left_anti")
          val mNew = newClicks.union(newClicks.select(col("v").as("u"), col("u").as("v")))
            .withColumn("bkt", bktCol(n, col("u")))
            .localCheckpoint(true)
          val tci = buckets(mNew)
          if (tci.nonEmpty) {
            val mergedRows = readIterBucketRows(s, fs, artPath, "click_iter", tci)
              .select("u", "v").unionByName(mNew.select("u", "v"))
            // deg is bucket-local (every row of a key lives in its
            // bucket), so recomputing it over the touched buckets alone
            // is exact
            writeBucketed(s,
              mergedRows.join(mergedRows.groupBy("u").agg(count(lit(1)).as("deg")), "u"),
              new Path(stagedRoot, "click_iter").toString, "u", n)
          }
        }
      }
    }
    val fOrders = scala.concurrent.Future {
      if (touchedOB.nonEmpty) stage("orders", mergedOrders)
    }
    try
      Seq(fCoPurchase, fClick, fOrders).map(f =>
        scala.concurrent.Await.ready(
          f, scala.concurrent.duration.Duration.Inf).value.get)
        .foreach(_.get)
    finally stagePool.shutdown()

    // staged bucket inventory: support monotonicity means a touched
    // bucket never loses all its rows, so "buckets present in the
    // staged output" is exactly the swap set per sub (iteration-shaped
    // subs carry the bucket id in the file NAME instead of a bkt= dir)
    def stagedBuckets(sub: String): Seq[Int] = {
      val p = new Path(stagedRoot, sub)
      if (!fs.exists(p)) Nil
      else if (IterSubs.contains(sub))
        fs.listStatus(p).toSeq.filter(_.isFile)
          .flatMap(st => bucketIdOf(st.getPath.getName)).distinct
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bkt="))
        .map(_.getPath.getName.stripPrefix("bkt=").toInt)
    }
    def liveIterFiles(sub: String, k: Int): Seq[Path] = {
      val p = new Path(artPath, sub)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq
        .filter(st => st.isFile && bucketIdOf(st.getPath.getName).contains(k))
        .map(_.getPath)
    }
    val plan: Seq[(String, Seq[(Int, Boolean)])] = (Subs ++ IterSubs).map { sub =>
      sub -> stagedBuckets(sub).map { k =>
        k -> (if (IterSubs.contains(sub)) liveIterFiles(sub, k).nonEmpty
              else fs.exists(new Path(artPath, s"$sub/bkt=$k")))
      }
    }

    // ---- write-ahead pending marker, then per-bucket swap ----
    val batchId = java.util.UUID.randomUUID().toString
    val pendJson = {
      val subs = plan.map { case (sub, ks) =>
        "\"" + sub + "\":[" + ks.map { case (k, had) =>
          s"""{"bkt":$k,"hadBase":$had}"""
        }.mkString(",") + "]"
      }.mkString(",")
      s"""{"batchId":"$batchId","subs":{$subs}}"""
    }
    writeSmall(fs, new Path(artPath, "_meta/pending.json"), pendJson)
    plan.foreach { case (sub, ks) =>
      if (ks.nonEmpty) fs.mkdirs(new Path(artPath, s"_backup/$sub"))
      ks.foreach { case (k, hadBase) =>
        if (IterSubs.contains(sub)) {
          // bucketed layout: the swap unit is the bucket's FILE(s); the
          // same backup-then-swap-in discipline, same recover windows
          // (rollback keys off backup presence, exactly like hadBase
          // does for the dir-partitioned subs)
          val liveDir = new Path(artPath, sub)
          if (hadBase) liveIterFiles(sub, k).foreach { f =>
            if (!fs.rename(f, new Path(artPath, s"_backup/$sub/${f.getName}")))
              throw new IllegalStateException(s"backup rename failed: $f")
          }
          val stagDir = new Path(stagedRoot, sub)
          fs.listStatus(stagDir)
            .filter(st => st.isFile && bucketIdOf(st.getPath.getName).contains(k))
            .foreach { st =>
              if (!fs.rename(st.getPath, new Path(liveDir, st.getPath.getName)))
                throw new IllegalStateException(
                  s"swap rename failed: ${st.getPath} -> $liveDir")
            }
        } else {
          val liveB = new Path(artPath, s"$sub/bkt=$k")
          val backB = new Path(artPath, s"_backup/$sub/bkt=$k")
          val stagB = new Path(stagedRoot, s"$sub/bkt=$k")
          if (hadBase && !fs.rename(liveB, backB))
            throw new IllegalStateException(s"backup rename failed: $liveB")
          if (!fs.rename(stagB, liveB))
            throw new IllegalStateException(s"swap rename failed: $stagB -> $liveB")
        }
      }
    }

    // ---- commit + cleanup ----
    commitState(fs, artPath, meta.copy(batches = meta.batches :+ batchId))
    fs.delete(new Path(artPath, "_backup"), true)
    fs.delete(stagedRoot, true)
    fs.delete(new Path(artPath, "_meta/pending.json"), false)
  }

  // ------------------------------------------------------------------
  // Serving
  // ------------------------------------------------------------------

  /** Operational repair entry point: [[recover]] under the artifact's
    * single-writer contract. Call after a crashed [[build]]/[[append]]
    * when only readers will run next (a retried append repairs
    * implicitly); never run it concurrently with a live append. */
  def repair(s: SparkSession, root: String): Unit =
    graft.common.WriterLease.withLease(fsOf(s, root), leasePath(root)) {
      recover(s, root)
    }

  /** READ-ONLY committed-state observation — never repairs. A serve may
    * run concurrently with an [[append]] from another session, and a
    * mutating recovery here could not distinguish a crashed append from
    * an in-flight one (rolling back a live append's renames would
    * corrupt the artifact — the round-8 hazard). Instead:
    *
    *  - a crashed build swap (live renamed aside, complete staging not
    *    yet renamed in) is served from the staging copy, read-only;
    *  - a pending marker whose batch IS in the committed state means
    *    every touched bucket already swapped in — live is the full
    *    batch, the leftover backups are garbage for the next write
    *    entry point to clear; safe to read;
    *  - a pending marker whose batch is NOT committed is either a
    *    mid-flight append (bucket renames may land between our listing
    *    and our read) or a crash needing rollback — no consistent
    *    read-only view exists, so serving FAILS LOUDLY rather than
    *    guessing (retry the append, or run [[repair]] if no append is
    *    live).
    *
    * GraphArtifactSpec pins that serving a crashed-uncommitted artifact
    * throws without modifying a single file. */
  private def resolveServeBase(s: SparkSession, fs: FileSystem, root: String): String = {
    val live = new Path(root)
    val staging = new Path(root + ".staging")
    val base =
      if (!fs.exists(live) && fs.exists(new Path(staging, "_meta/state.json")))
        staging.toString
      else root
    val pendP = new Path(base, "_meta/pending.json")
    if (fs.exists(pendP)) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val batchId = m.readTree(readSmall(fs, pendP)).path("batchId").asText()
      // the state promote window (delete-current → rename-next) makes
      // state.json.next the committed content when state.json is gone
      val stateP = new Path(base, "_meta/state.json")
      val metaP = if (fs.exists(stateP)) stateP
                  else new Path(base, "_meta/state.json.next")
      val committed = try {
        m.readTree(readSmall(fs, metaP)).path("batches")
          .elements().asScala.exists(_.asText == batchId)
      } catch { case _: java.io.IOException => false }
      if (!committed)
        throw new IllegalStateException(
          s"artifact at $base has an uncommitted append (batch $batchId): " +
            "either an append is in flight in another session (retry the " +
            "read after it commits) or a crashed append needs rollback " +
            "(retry the append, or run GraphArtifact.repair with no " +
            "concurrent writer) — serving now could observe a torn batch")
    }
    base
  }

  private def serve(s: SparkSession, sub: String): Option[DataFrame] =
    s.conf.getOption(Key).map { root =>
      val fs = fsOf(s, root)
      val base = resolveServeBase(s, fs, root)
      val p = new Path(base, sub)
      if (!fs.exists(p))
        throw new IllegalStateException(
          s"$Key=$root is set but '$sub' is missing — silent inline fallback " +
            "would drop appended batches; unset the conf or rebuild")
      // Pack the one-file-per-bucket layout into byte-proportional scan
      // partitions. With n buckets of small files and ≥n cores,
      // FilePartition packing degenerates (bytesPerCore < openCost ⇒
      // maxSplitBytes = openCostInBytes ⇒ one task per bucket file), so
      // every downstream stage of an iterative query pays n-task
      // scheduling overhead regardless of data volume — the round-8
      // q116/q244 bench regression. coalesce to ceil(bytes /
      // maxPartitionBytes): 1 task at KB scale, a strict no-op at scale
      // (the target exceeds the file count long before 100 TB).
      val bytes = fs.getContentSummary(p).getLength
      val maxPart = s.sessionState.conf.filesMaxPartitionBytes
      val target = math.max(1L, (bytes + maxPart - 1) / maxPart).toInt
      s.read.parquet(p.toString).drop("bkt").coalesce(target)
    }

  /** Co-purchase edge list (a, b): served from the artifact when one is
    * configured (failing loudly if it is configured but incomplete),
    * inline-derived otherwise. */
  def coPurchase(s: SparkSession, dir: String): DataFrame =
    serve(s, "copurchase").getOrElse(coPurchaseInline(s, dir))

  /** Directed click edge list (u, v): artifact-served or inline. */
  def clickEdges(s: SparkSession, dir: String): DataFrame =
    serve(s, "click").getOrElse(clickEdgesInline(s, dir))

  // ------------------------------------------------------------------
  // Bucketed (iteration-shaped) serving — the [[BucketedServeKey]] path
  // ------------------------------------------------------------------

  /** Register (once per session) and scan an iteration-shaped sub as a
    * bucketed CATALOG table — the only in-Spark shape whose scan
    * exposes a join-consumable `HashPartitioning(key, n)`, so the
    * per-iteration edge-side Exchange disappears (IterProbe variant D,
    * SCALE.md: shuffles 6 → 4 per iteration). Same committed-state
    * read-only discipline as [[serve]]; the table name keys on the
    * resolved location and bucket count, so a rebuilt artifact with a
    * different bucket count never aliases a stale registration, and
    * `refreshTable` drops the listing cache so a same-session append is
    * visible immediately. NO small-file repacking here, deliberately:
    * coalescing would erase the partitioning this path exists for —
    * the n-task floor is the price of the exchange-free scan. */
  private def serveBucketed(s: SparkSession, sub: String): Option[DataFrame] = {
    val mode = s.conf.getOption(BucketedServeKey)
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)).getOrElse("false")
    val on = mode == "true" || mode == "auto"
    s.conf.getOption(Key).filter(_ => on).flatMap { root =>
      val fs = fsOf(s, root)
      val base = resolveServeBase(s, fs, root)
      val p = new Path(base, sub)
      if (!fs.exists(p)) {
        // mode=true is an explicit operator demand — a missing sub is
        // a deployment error and stays a hard throw. auto is a
        // data-dependent OPTIMIZATION rule, and its other leg (too
        // small to matter) already declines to the inline recipe — a
        // pre-iteration-sub artifact declines the same way, with a
        // warning, instead of failing a read that has a correct
        // fallback (round-13 ADVICE)
        if (mode == "auto") {
          System.err.println(
            s"[graft] $BucketedServeKey=auto: '$sub' missing under $base " +
              "(artifact predates the iteration-shaped serving state) — " +
              "falling back to the inline recipe; rebuild with " +
              "GraphArtifact.build to enable bucketed serving")
          None
        } else
          throw new IllegalStateException(
            s"$BucketedServeKey=$mode but '$sub' is missing under $base — the " +
              "artifact predates the iteration-shaped serving state; rebuild " +
              "with GraphArtifact.build (or unset the conf)")
      } else {
      // auto: encode the MEASURED deployment rule (IterProbe cluster,
      // SCALE.md round-12) — the exchange-free bucketed scan wins iff
      // the edge side is too big to broadcast; below the threshold
      // both legs broadcast and the bucketed path's n-task floor only
      // costs. The size compared is the stored sub's parquet bytes —
      // exactly the `sizeInBytes` a statless file relation reports to
      // the planner (× the default compression factor 1.0), so the
      // flip agrees with the broadcast decision the inline path gets.
      // Threshold −1 (broadcast disabled) means the edge side can
      // never broadcast: always serve bucketed.
      val autoDeclines = mode == "auto" && {
        val raw = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        // plain integers (including the disable value -1) are bytes;
        // only suffixed forms need the byte-string parser
        val thr = raw.toLongOption.getOrElse(
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
        thr >= 0 && storedBytes(fs, base, p) <= thr
      }
      if (autoDeclines) None
      else {
        val n = readMeta(fs, base).buckets
        val name = s"graft_${sub}_" +
          (scala.util.hashing.MurmurHash3.stringHash(p.toString) & 0x7fffffff) + s"_b$n"
        if (!s.catalog.tableExists(name)) {
          val key = iterKey(sub)
          s.sql(s"CREATE TABLE `$name` (${iterSchema(sub).toDDL}) USING PARQUET " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS " +
            s"LOCATION '${p.toString}'")
        }
        s.catalog.refreshTable(name)
        Some(s.table(name))
      }
      }
    }
  }

  /** Stored parquet bytes of a serving sub, cached per (sub path,
    * committed-state mtime): `getContentSummary` is a RECURSIVE
    * directory scan, and auto-mode serving would otherwise pay it on
    * every call of every iterative query (round-13 ADVICE). The cache
    * key carries `_meta/state.json`'s modification time — every
    * build/append/migration rewrites the state file, so a committed
    * mutation (which can change the sub's size) always misses the
    * cache, while steady-state serves hit it with one file stat. */
  private val subSizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def storedBytes(fs: FileSystem, base: String, p: Path): Long = {
    val stateP = new Path(base, "_meta/state.json")
    val metaP = if (fs.exists(stateP)) stateP
                else new Path(base, "_meta/state.json.next")
    val epoch =
      try fs.getFileStatus(metaP).getModificationTime
      catch { case _: java.io.IOException => -1L }
    val key = p.toString + "#" + epoch
    subSizeCache.computeIfAbsent(key,
      _ => java.lang.Long.valueOf(fs.getContentSummary(p).getLength)).longValue()
  }

  /** The iteration-shaped click frame (u, v, deg) under the bucketed
    * serving conf — `Some` iff [[Key]] AND [[BucketedServeKey]] are
    * set. Callers that have their own in-memory recipe match on this
    * ([[clickIterEdges]] bundles the default). */
  def clickIterServed(s: SparkSession): Option[DataFrame] =
    serveBucketed(s, "click_iter")

  /** The iteration-shaped co-purchase frame (src, dst) — mirrored,
    * bucketed by `dst` — under the bucketed serving conf (q211
    * HyperBall's per-round join key). */
  def coPurchaseIterServed(s: SparkSession): Option[DataFrame] =
    serveBucketed(s, "copurchase_iter")

  /** The PageRank-family iteration frame (u, v, deg): the bucketed
    * catalog scan when [[BucketedServeKey]] is on (exchange-free
    * per-iteration join input — the real-cluster shape), else the
    * explicit-full-width checkpointed frame (the IterProbe C recipe —
    * fastest single-node, where the saved exchange is process-local
    * and re-decoding parquet per iteration would cost more). Both
    * produce the same multiset: mirror of the distinct directed click
    * edges with the source's degree on every row. */
  def clickIterEdges(s: SparkSession, dir: String): DataFrame =
    clickIterServed(s).getOrElse {
      val clicks = clickEdges(s, dir)
      val edges = clicks.union(clicks.select(col("v").as("u"), col("u").as("v")))
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      // FIXED edge set at FULL WIDTH — the round-10 IterProbe finding,
      // enforced by the audited helper (graft.common.IterFrame: a bare
      // checkpoint of this frame gets AQE-coalesced to one partition,
      // serializing every iteration; measured 7.15 → 3.67 s at 100×)
      graft.common.IterFrame.keyed(edges.join(deg, "u"), col("u"))
    }
}
