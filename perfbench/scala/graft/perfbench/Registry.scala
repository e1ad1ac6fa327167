package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `registry`: the plan's seeded draw over `SparkEntry.queries`, each query
  * built and drained once in draw order, the way a pipeline step runs —
  * analysis, codegen, job launches and eager checkpoints stay inside the
  * number. Set-up is warm-up plus one query outside the draw. No panel
  * query serves from a `GraphArtifact`, so set-up builds none (the state
  * workload times its build). After the clock stops, each drained result
  * with an oracle is written out for the DuckDB compare. */
final class Registry(plan: JsonNode, fixture: String, work: String) extends Workload {
  private val draw = Main.strings(plan.get("draw"))
  private val oracle = Main.strings(plan.get("oracle"))
  private val results = s"$work/results"

  def setup(spark: SparkSession, rep: Int): Unit = {
    // one query outside the draw, through the same build/collect/write
    // path, so the first drawn query does not pay the path's first use
    val df = graft.SparkEntry.queries(plan.get("warmup").asText())(spark, fixture)
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      .coalesce(1).write.parquet(s"$work/warmup-$rep")
  }

  def measure(b: Bench): Unit = {
    val queries = graft.SparkEntry.queries
    val checked = oracle.toSet
    val drained = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    for (name <- draw) {
      b.op(name, "query") {
        val df = b.span("queries.build")(queries(name)(b.spark, fixture))
        b.mark("build")
        val rows = b.span("queries.drain")(df.collect())
        (df.schema, rows)
      } { case (schema, rows) =>
        if (checked(name)) drained += ((name, schema, rows))
        Map("rows" -> rows.length, "result" -> (if (checked(name)) s"$results/$name" else null))
      }
    }
    // the results the DuckDB compare reads, written side by side
    for ((name, e) <- Main.parallel(drained.toSeq.map { case (name, schema, rows) => () =>
      name -> scala.util.Try(b.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$results/$name")).failed.toOption
    }); err <- e)
      b.records.filter(_("name") == name).foreach(b.fail(_, err))
  }
}
