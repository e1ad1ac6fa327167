package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Compact, TolerantCompact}
import graft.llm.{AnnIndex, Dedup, Similarity}
import graft.operators.GraphArtifact
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `state`: a daily-ingest lifecycle of the four persisted-state operators.
  * The plan assigns every document, vector, order and clicking user to the
  * base (part 0) or one of `batches` daily batches by seeded key hash.
  * Each operator builds on the base, then appends one batch per round and
  * serves after every append. After the last append each state must equal a fresh
  * build over the same rows — the base + append ≡ full law q302 and the
  * operator specs pin. */
final class State(plan: JsonNode, fixture: String, work: String) extends Workload {
  private val batches = plan.get("batches").asInt()
  private val inputs = s"$work/state-inputs"
  private val json = new ObjectMapper()

  private def keyed(spark: SparkSession, name: String, key: String): DataFrame = {
    val n = plan.get("splits").get(name)
    import spark.implicits._
    Main.longs(n.get("keys")).zip(Main.ints(n.get("parts"))).toDF(key, "part")
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = s"$inputs-$rep"
    def split(df: DataFrame, name: String, key: String): Unit =
      df.join(broadcast(keyed(spark, name, key)), key).write.partitionBy("part")
        .parquet(s"$dir/$name")
    Main.parallel(Seq(
      () => split(graft.Tables.t(spark, fixture, "documents"), "documents", "doc_id"),
      () => split(graft.Tables.t(spark, fixture, "embeddings"), "embeddings", "vec_id"),
      () => split(GraphArtifact.itemsInline(spark, fixture), "items", "o"),
      () => split(GraphArtifact.clickEdgesInline(spark, fixture), "clicks", "u")))
  }

  def measure(b: Bench): Unit = {
    val spark = b.spark
    val dir = s"$inputs-${plan.get("setup_reps").asInt() - 1}"
    def part(name: String, i: Int) =
      spark.read.parquet(s"$dir/$name").filter(col("part") === i).drop("part")
    def full(name: String) = spark.read.parquet(s"$dir/$name").drop("part")
    def probe(name: String, key: String) = {
      import spark.implicits._
      full(name).join(broadcast(Main.longs(plan.get("probes").get(name)).toDF(key)),
        Seq(key), "left_semi")
    }
    val docProbe = probe("documents", "doc_id")
    val embProbe = probe("embeddings", "vec_id")
    // the SRP planes are part of the model: first 32 ids, all in the base
    val planes = Similarity.firstNPlanes(full("embeddings"), 32)

    val root = s"$work/lifecycle"
    // one build or append; its input frames are made before the clock starts
    def timedOp(kind: String, i: Int, inputs: String*)(name: String, layer: String)(
        body: Seq[DataFrame] => Unit): Unit = {
      val sub = layer.split('.').head
      val stateDir = s"$root/${Map("compact" -> "dedup", "annindex" -> "ann",
        "graphartifact" -> "graph", "tolerantcompact" -> "tolerant")(sub)}"
      val in = inputs.map(part(_, i))
      val sinceMs = System.currentTimeMillis()
      b.op(name, kind)(b.span(layer)(body(in))) { _ =>
        stateDetail(spark, sub, stateDir, sinceMs, b.traceRun) +
          ("batch_bytes" -> inputs.map(n => Main.dirBytes(s"$dir/$n/part=$i")).sum)
      }
    }
    // the serve calls, over the states under `r`; the last round's results
    // are compared with the same serves over the fresh build
    def serves(r: String): Seq[(String, () => Array[Row])] = Seq(
      "dedup.serve" -> (() => {
        val (classes, members) =
          b.span("compact.readClassIndex")(Compact.readClassIndex(spark, s"$r/dedup").get)
        b.span("dedup.minhashLshAgainstIndex")(
          Dedup.minhashLshAgainstIndex(classes, members, docProbe).collect())
      }),
      "annindex.topk" -> (() =>
        b.span("annindex.topK")(AnnIndex.topK(embProbe, s"$r/ann", k = 8).collect())),
      "tolerantcompact.serve" -> (() => b.span("tolerantcompact.serve")(
        TolerantCompact.serve(spark, s"$r/tolerant", embProbe, threshold = 0.3).collect())),
      "graphartifact.serve" -> (() => {
        spark.conf.set(GraphArtifact.Key, s"$r/graph")
        try b.span("queries.q179_triangle_count")(
          graft.SparkEntry.queries("q179_triangle_count")(spark, fixture).collect())
        finally spark.conf.unset(GraphArtifact.Key)
      }))
    val served = scala.collection.mutable.Map.empty[String, Set[Row]]

    timedOp("build", 0, "documents")("compact.build", "compact.run") { in =>
      Compact.run(spark, s"$root/dedup", in(0)) }
    timedOp("build", 0, "embeddings")("annindex.build", "annindex.build") { in =>
      AnnIndex.build(in(0), s"$root/ann") }
    timedOp("build", 0, "items", "clicks")("graphartifact.build", "graphartifact.buildFrom") { in =>
      GraphArtifact.buildFrom(spark, in(0), in(1), s"$root/graph") }
    timedOp("build", 0, "embeddings")("tolerantcompact.build", "tolerantcompact.run") { in =>
      TolerantCompact.run(spark, s"$root/tolerant", in(0), planes) }
    // one daily batch per round: append to every state, then serve each
    for (i <- 1 to batches) {
      timedOp("append", i, "documents")("compact.append", "compact.run") { in =>
        Compact.run(spark, s"$root/dedup", in(0)) }
      timedOp("append", i, "embeddings")("annindex.append", "annindex.append") { in =>
        AnnIndex.append(in(0), s"$root/ann") }
      timedOp("append", i, "items", "clicks")("graphartifact.append", "graphartifact.append") { in =>
        GraphArtifact.append(spark, in(0), in(1), s"$root/graph") }
      timedOp("append", i, "embeddings")("tolerantcompact.append", "tolerantcompact.run") { in =>
        TolerantCompact.run(spark, s"$root/tolerant", in(0)) }
      for ((name, call) <- serves(root))
        b.op(name, "serve")(call()) { rows => served(name) = rows.toSet; Map("rows" -> rows.length) }
    }

    // the law, checked after the clock stops: every state equals a fresh
    // build over the base and every batch, and so does the last serve. Per
    // operator the fresh build comes first; the four operators' checks are
    // independent and run side by side.
    val fresh = s"$work/fresh"
    def upTo(name: String) =
      spark.read.parquet(s"$dir/$name").filter(col("part") <= batches).drop("part")
    def law(op: String, what: String)(same: => Boolean): () => Option[(String, String)] = () =>
      try { if (same) None else Some(op -> s"$what differs from a fresh build over the same rows") }
      catch { case e: Throwable => Some(op -> s"$what check threw: ${e.getMessage}") }
    def table(r: String, sub: String) = spark.read.parquet(s"$r/$sub")
    val freshServe = serves(fresh).toMap
    def serveLaw(name: String) =
      law(name, "last serve")(served.get(name).contains(freshServe(name)().toSet))
    val checks: Seq[() => Seq[Option[(String, String)]]] = Seq(
      Seq(law("compact.append", "dedup index") {
        Compact.run(spark, s"$fresh/dedup", upTo("documents"))
        Seq("dedup/index/members", "dedup/index/classes").forall(sub =>
          snap(table(root, sub)) == snap(table(fresh, sub)))
      }, serveLaw("dedup.serve")),
      Seq(law("annindex.append", "ann index") {
        AnnIndex.build(upTo("embeddings"), s"$fresh/ann")
        snap(table(root, "ann/index")) == snap(table(fresh, "ann/index"))
      }, serveLaw("annindex.topk")),
      Seq(law("graphartifact.append", "graph artifact") {
        GraphArtifact.buildFrom(spark, upTo("items"), upTo("clicks"), s"$fresh/graph")
        Seq("copurchase_support", "copurchase", "click", "orders").forall(sub =>
          snap(table(root, s"graph/$sub").drop("bkt")) == snap(table(fresh, s"graph/$sub").drop("bkt")))
      }, serveLaw("graphartifact.serve")),
      Seq(law("tolerantcompact.append", "tolerant state") {
        TolerantCompact.run(spark, s"$fresh/tolerant", upTo("embeddings"), planes)
        tolerantSnap(spark, s"$root/tolerant") == tolerantSnap(spark, s"$fresh/tolerant")
      }, serveLaw("tolerantcompact.serve"))
    ).map(chain => () => chain.map(_()))
    for ((op, what) <- Main.parallel(checks).flatten.flatten)
      b.records.filter(_("name") == op).lastOption.foreach(r =>
        b.fail(r, new IllegalStateException(what)))
  }

  /** A frame's rows as a set of strings (arrays and floats compare by value). */
  private def snap(df: DataFrame): Set[String] =
    df.select(df.columns.sorted.map(c => to_json(struct(col(c))).as(c)): _*)
      .collect().map(_.mkString("|")).toSet

  private def tolerantSnap(spark: SparkSession, dir: String): (Set[String], Set[String], Set[String], Int) = {
    val (st, _) = TolerantCompact.readState(spark, dir).get
    (snap(st.groups.select(col("leader"), col("pop"), round(col("radius"), 6), col("sig"))),
      snap(st.exemplars.select("id", "leader", "sig")),
      snap(st.members.select("id", "rep")), st.width)
  }

  /** Layer facts of one state op, read back from the state after it; the
    * ones that take Spark jobs only in a traced run, which reports them. */
  private def stateDetail(spark: SparkSession, sub: String, dir: String,
                          sinceMs: Long, traced: Boolean): Map[String, Any] = {
    val base = Map[String, Any]("state_bytes" -> Main.dirBytes(dir),
      "bytes_written" -> Main.dirBytes(dir, sinceMs))
    if (!traced) base else sub match {
      case "compact" =>
        base ++ Map("classes" -> spark.read.parquet(s"$dir/index/classes").count())
      case "graphartifact" =>
        val meta = json.readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$dir/_meta/state.json")))
        base ++ Map("buckets" -> meta.get("buckets").asInt())
      case "tolerantcompact" =>
        base ++ Map("width" -> TolerantCompact.readState(spark, dir).get._1.width)
      case _ => base
    }
  }
}
