package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Graph.tiered]]'s routing at its boundary, with stand-in tier bodies
  * (no graph kernel): the driver tier reports the rows it was handed,
  * the distributed tier only that it ran. */
class GraphTieredSpec extends SparkSpec {

  private val n = 7

  private def route(driverMaxEdges: Long): (String, Set[(Long, Long)]) = {
    val edges = spark.range(n)
      .select(col("id").as("u"), (col("id") * 10).as("v"), lit("x").as("tag"))
    Graph.tiered(edges, Seq("u", "v"), driverMaxEdges) { rows =>
      ("driver", rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    }(("distributed", Set.empty[(Long, Long)]))
  }

  private val all = (0L until n).map(i => (i, i * 10)).toSet

  test("Graph.tiered: driverMaxEdges = n routes to the driver tier with all n rows") {
    assert(route(n) === (("driver", all)))
  }

  test("Graph.tiered: driverMaxEdges = n - 1 routes to the distributed tier") {
    assert(route(n - 1) === (("distributed", Set.empty[(Long, Long)])))
  }

  test("Graph.tiered: driverMaxEdges = Long.MaxValue routes to the driver tier without Int overflow") {
    assert(route(Long.MaxValue) === (("driver", all)))
  }

  test("Graph.tiered: the distributed body is not evaluated on the driver tier") {
    var ran = false
    val out = Graph.tiered(spark.range(n).select(col("id").as("u")), Seq("u"),
      n.toLong)(_.length) { ran = true; -1 }
    assert(out === n && !ran)
  }
}
